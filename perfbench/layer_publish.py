"""layer_publish: uploads published as GeoParquet layers, then checked the
way a publisher would.

Each upload goes through `sources.ingest.ingest`, `write_geoparquet` and
`read_geoparquet`; the publisher's check then runs `catalog.feature_schema`,
a first page and a count through `api.query_layer`. A round is one fixed
sequence of uploads; the seed draws their geometry and properties. The
written layer is checked afterwards with pyarrow and DuckDB against the
generator's features.
"""

from __future__ import annotations

import glob
import json
import os
import random

import duckdb
import pyarrow.parquet as pq

from perfbench import datagen, decode
from perfbench.common import Clock

FIRST_PAGE = 100

# kind -> (format, features)
ROUND = [
    ("geojson_small", "geojson", 100),
    ("geoparquet_medium", "geoparquet", 1000),
    ("geojson_large", "geojson", 5000),
    ("publish_sparse_props", "geojson", 150),
]
# fails on every run: ingest infers the property schema from the first 100
# features, so `rank` (integral for 100 features, then fractional) is cast
# to bigint and the write fails with CAST_INVALID_INPUT (and `note`, first
# seen at feature 120, would be dropped)
KNOWN_FAILING = {"publish_sparse_props"}


def _wchar() -> int:
    with open("/proc/self/io") as f:
        return int(next(l for l in f if l.startswith("wchar")).split()[1])


class LayerPublish:
    name = "layer_publish"
    KNOWN_FAILING = KNOWN_FAILING

    def __init__(self, spark, run, seed: int, tracer):
        self.spark, self.run, self.seed, self.t = spark, run, seed, tracer
        from iceberg_geospatial_api_server_spark import api, catalog
        from iceberg_geospatial_api_server_spark.sources import ingest

        self.api, self.catalog, self.ingest = api, catalog, ingest
        tracer.wrap(ingest, "ingest", "sources.ingest")
        tracer.wrap(ingest, "read_geojson", "sources.read_geojson")
        tracer.wrap(ingest, "read_geoparquet", "sources.read_geoparquet")
        tracer.wrap(catalog, "feature_schema", "catalog.feature_schema")
        # the bytes this process writes during the call: the pyarrow rewrite
        tracer.wrap(ingest, "write_geoparquet", "sources.write_geoparquet",
                    counter=("py_write_bytes", _wchar))
        self.up_dir = run.sub("uploads")
        self.pub_dir = run.sub("published")

    def setup(self) -> dict:
        return {}

    def rounds(self, rng: random.Random):
        r = 0
        while True:
            reqs = []
            for kind, fmt, n in ROUND:
                tag = rng.randrange(1 << 30)
                if kind in KNOWN_FAILING:
                    feats = datagen.sparse_features()
                else:
                    feats = datagen.features(self.seed, n, tag)
                path = os.path.join(self.up_dir, f"r{r}_{kind}")
                if fmt == "geojson":
                    path += ".geojson"
                    datagen.write_geojson(path, feats)
                else:
                    path += ".parquet"
                    datagen.write_wkt_geoparquet(path, feats)
                reqs.append({"kind": kind, "cls": "publish", "path": path,
                             "feats": feats, "n": len(feats),
                             "out": os.path.join(self.pub_dir, f"r{r}_{kind}")})
            r += 1
            yield reqs

    def execute(self, req: dict, rid: str, warm: bool = False) -> dict:
        self.t.begin_request(rid)
        c = Clock()
        out = {"req": req, "ok": True}
        try:
            with self.t.span("request", kind=req["kind"], n=req["n"]):
                df = self.ingest.ingest(self.spark, [req["path"]])
                self.ingest.write_geoparquet(df, req["out"])
                layer = self.ingest.read_geoparquet(self.spark, req["out"])
                schema = self.catalog.feature_schema(layer)
                page, _ = self.api.query_layer(
                    layer, {"f": "json", "resultRecordCount": FIRST_PAGE})
                count, _ = self.api.query_layer(
                    layer, {"f": "json", "returnCountOnly": "true"})
            out["payload"] = {"schema": schema, "page": page, "count": count}
        except Exception as e:  # noqa: BLE001 - counted, reported below
            out["ok"] = False
            out["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        out["s"] = c.s()
        return out

    def check(self, res: dict) -> str | None:
        req, p = res["req"], res["payload"]
        feats, n = req["feats"], req["n"]
        files = sorted(glob.glob(os.path.join(req["out"], "*.parquet")))
        table = pq.read_table(files)
        if table.num_rows != n:
            return f"{table.num_rows} stored rows vs {n}"
        (dn,) = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{req['out']}/*.parquet')"
        ).fetchone()
        if dn != n:
            return f"DuckDB counts {dn} rows vs {n}"
        by_fid = {f["properties"]["fid"]: f for f in feats}
        exp_cols = ["geometry"] + list(feats[0]["properties"])
        if table.column_names != exp_cols:
            return f"columns {table.column_names} vs {exp_cols}"
        xs, ys = [], []
        for row in table.to_pylist():
            f = by_fid.get(row["fid"])
            if f is None:
                return f"unknown fid {row['fid']}"
            for k, v in f["properties"].items():
                if row[k] != v:
                    return f"fid {row['fid']}: {k}={row[k]!r} vs {v!r}"
            code, parts = decode.wkb_coords(row["geometry"])
            g = f["geometry"]
            want = ([[g["coordinates"]]] if g["type"] == "Point"
                    else [g["coordinates"]] if g["type"] == "LineString"
                    else g["coordinates"])
            got = [[list(p) for p in part] for part in parts]
            if got != [[list(p) for p in part] for part in want]:
                return f"fid {row['fid']}: geometry {got} vs {want}"
            for part in want:
                for x, y in part:
                    xs.append(x)
                    ys.append(y)
        geo = json.loads(pq.read_schema(files[0]).metadata[b"geo"])
        bbox = geo["columns"]["geometry"].get("bbox")
        if bbox != [min(xs), min(ys), max(xs), max(ys)]:
            return f"geo bbox {bbox} vs {[min(xs), min(ys), max(xs), max(ys)]}"
        names = {f["name"] for f in p["schema"].fields}
        if not set(feats[0]["properties"]) <= names:
            return f"schema fields {sorted(names)}"
        page = p["page"]["features"]
        if [f["attributes"]["__oid"] for f in page] != list(range(min(n, FIRST_PAGE))):
            return "first page OIDs are not 0..limit-1"
        if p["count"]["count"] != n:
            return f"count {p['count']['count']} vs {n}"
        return None


def stored_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))

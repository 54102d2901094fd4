"""map_session: a web-map user browsing the persisted lineitem point layer.

Each request resolves the layer afresh (`sources.geo_layer.
lineitem_bbox_layer`), as a stateless handler would, then calls
`api.query_layer` or `api.get_tile`. A round is one fixed sequence of
request kinds; the seed draws each request's offsets, boxes, thresholds
and tiles. Every response of every round is checked after the timed
window against DuckDB over the source parquet.
"""

from __future__ import annotations

import json
import math
import os
import random

import duckdb
import numpy as np
import pandas as pd

from perfbench import datagen, decode
from perfbench.common import Clock

LAYER_SF = 0.01  # 60,000 points
PAGE = 50
TILE_FIELDS = ["l_linenumber", "l_quantity"]
TILE_EXTENT, TILE_BUFFER = 4096, 64

# kind -> class; one round runs these in this order
ROUND = [
    ("count_where_polygon", "count"),
    ("page_pbf_bbox", "page"),
    ("tile_z4", "tile"),
    ("page_geojson_offset", "page"),
    ("extent_bbox", "count"),
    ("ids_bbox", "page"),
    ("tile_z9", "tile"),
    ("page_outsr_bbox", "page"),
    ("object_ids", "page"),
    ("tile_default_fields", "tile"),
]
# fails on every run: feature_schema lists the internal __bbox_* columns
# as fields, they become the tile's default out_fields, and clip_features
# has dropped them by then (UNRESOLVED_COLUMN __bbox_xmin)
KNOWN_FAILING = {"tile_default_fields"}
DEFAULT_TILE = (6, 33, 30)  # fixed, seed-independent


def _box(rng: random.Random, w: float, h: float) -> tuple[float, ...]:
    x = round(rng.uniform(-179.0, 179.0 - w), 3)
    y = round(rng.uniform(-84.0, 84.0 - h), 3)
    return (x, y, round(x + w, 3), round(y + h, 3))


def _tile_at(rng: random.Random, z: int, pts: np.ndarray) -> tuple[int, int, int]:
    """The tile holding a random source point."""
    x, y = pts[rng.randrange(len(pts))]
    n = 2**z
    lat = math.radians(y)
    tx = int((x + 180.0) / 360.0 * n)
    ty = int((1.0 - math.asinh(math.tan(lat)) / math.pi) / 2.0 * n)
    return (z, min(tx, n - 1), min(ty, n - 1))


def plan_round(rng: random.Random, n_rows: int, pts: np.ndarray) -> list[dict]:
    reqs = []
    for kind, cls in ROUND:
        r = {"kind": kind, "cls": cls}
        if kind == "page_geojson_offset":
            r["params"] = {"f": "geojson", "resultRecordCount": PAGE,
                           "resultOffset": rng.randrange(0, n_rows - 2 * PAGE)}
        elif kind == "page_pbf_bbox":
            b = _box(rng, 30.0, 20.0)
            r["bbox"] = b
            r["params"] = {"f": "pbf", "resultRecordCount": PAGE,
                           "geometry": ",".join(map(str, b))}
        elif kind == "page_outsr_bbox":
            b = _box(rng, 30.0, 20.0)
            r["bbox"] = b
            r["params"] = {"f": "json", "resultRecordCount": PAGE,
                           "outSR": "102100", "geometry": ",".join(map(str, b))}
        elif kind == "ids_bbox":
            b = _box(rng, 6.0, 5.0)
            r["bbox"] = b
            r["params"] = {"f": "json", "returnIdsOnly": "true",
                           "geometry": ",".join(map(str, b))}
        elif kind == "object_ids":
            r["ids"] = sorted(rng.sample(range(n_rows), 10))
            r["params"] = {"f": "json",
                           "objectIds": ",".join(map(str, r["ids"]))}
        elif kind == "count_where_polygon":
            # an L of two axis-aligned rectangles on .05 offsets: no grid
            # point (0.1 degree) lies on its boundary
            x0 = round(rng.randrange(-170, 120) + 0.05, 2)
            y0 = round(rng.randrange(-80, 40) + 0.05, 2)
            ring = [(x0, y0), (x0 + 40, y0), (x0 + 40, y0 + 10),
                    (x0 + 10, y0 + 10), (x0 + 10, y0 + 30), (x0, y0 + 30),
                    (x0, y0)]
            r["ring"], r["q"] = ring, rng.randrange(5, 45)
            r["params"] = {"f": "json", "returnCountOnly": "true",
                           "where": f"l_quantity > {r['q']}",
                           "geometryType": "esriGeometryPolygon",
                           "geometry": json.dumps({"rings": [ring]})}
        elif kind == "extent_bbox":
            b = _box(rng, 40.0, 30.0)
            r["bbox"] = b
            r["params"] = {"f": "json", "returnExtentOnly": "true",
                           "geometry": ",".join(map(str, b))}
        elif kind == "tile_z4":
            r["tile"] = _tile_at(rng, 4, pts)
        elif kind == "tile_z9":
            r["tile"] = _tile_at(rng, 9, pts)
        elif kind == "tile_default_fields":
            r["tile"] = DEFAULT_TILE
        reqs.append(r)
    return reqs


class MapSession:
    name = "map_session"
    KNOWN_FAILING = KNOWN_FAILING

    def __init__(self, spark, run, seed: int, tracer):
        self.spark, self.run, self.seed, self.t = spark, run, seed, tracer
        from iceberg_geospatial_api_server_spark import api, catalog, engine
        from iceberg_geospatial_api_server_spark.geo import clip
        from iceberg_geospatial_api_server_spark.serializers import (
            esri_json, esri_pbf, geojson, mvt,
        )
        from iceberg_geospatial_api_server_spark.sources import geo_layer

        self.api, self.geo_layer = api, geo_layer
        tracer.wrap(geo_layer, "lineitem_bbox_layer", "sources.layer_resolve")
        tracer.wrap(catalog, "feature_schema", "catalog.feature_schema")
        tracer.wrap(engine, "with_oid", "engine.with_oid")
        tracer.wrap(engine, "query_features", "engine.query_features")
        tracer.wrap(esri_json, "serialize", "serializers.esri_json")
        tracer.wrap(esri_pbf, "serialize", "serializers.esri_pbf")
        tracer.wrap(geojson, "serialize", "serializers.geojson")
        tracer.wrap(mvt, "serialize_tile", "serializers.mvt")
        tracer.wrap(clip, "clip_features", "geo.clip_features")

    # -- set-up -----------------------------------------------------------------

    def setup(self) -> dict:
        self.src_dir = os.path.join(self.run.data, "src")
        datagen.write_lineitem(self.src_dir, self.seed, LAYER_SF)
        c = Clock()
        with self.t.span("setup.layer_build"):
            self.geo_layer.lineitem_bbox_layer(self.spark, self.src_dir)
        build_s = c.s()
        self._load_oracle()
        return {"layer_build_s": build_s}

    def _load_oracle(self) -> None:
        """Source rows with their points and OIDs. The engine numbers rows
        by every sortable column in schema order; the layer's schema order
        is (geometry WKB, l_orderkey, l_linenumber, l_quantity, bbox)."""
        con = duckdb.connect()
        src = con.execute(f"""
            SELECT l_orderkey, l_linenumber, l_quantity,
                   (l_partkey * 131 % 3600) / CAST(10.0 AS DOUBLE) - 180.0 AS x,
                   (l_suppkey * 241 % 1700) / CAST(10.0 AS DOUBLE) - 85.0 AS y
            FROM read_parquet('{self.src_dir}/lineitem.parquet')
        """).fetch_df()
        wkb = [b"\x01\x01\x00\x00\x00" + np.array([x, y], "<f8").tobytes()
               for x, y in zip(src.x.to_numpy(), src.y.to_numpy())]
        src["wkb"] = wkb
        src = src.sort_values(
            ["wkb", "l_orderkey", "l_linenumber", "l_quantity"], kind="mergesort"
        ).reset_index(drop=True)
        src["oid"] = np.arange(len(src), dtype=np.int64)
        self.src = src.drop(columns=["wkb"])
        con.register("src", self.src)
        self.con = con
        self.pts = self.src[["x", "y"]].to_numpy()

    # -- requests ---------------------------------------------------------------

    def rounds(self, rng: random.Random):
        while True:
            yield plan_round(rng, len(self.src), self.pts)

    def execute(self, req: dict, rid: str, warm: bool = False) -> dict:
        self.t.begin_request(rid)
        c = Clock()
        out = {"req": req, "ok": True}
        try:
            with self.t.span("request", kind=req["kind"]):
                df = self.geo_layer.lineitem_bbox_layer(self.spark, self.src_dir)
                if "tile" in req:
                    z, x, y = req["tile"]
                    fields = None if req["kind"] in KNOWN_FAILING else TILE_FIELDS
                    payload, _ = self.api.get_tile(df, z, x, y, out_fields=fields)
                else:
                    payload, _ = self.api.query_layer(df, dict(req["params"]))
            out["payload"] = payload
        except Exception as e:  # noqa: BLE001 - counted, reported below
            out["ok"] = False
            out["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        out["s"] = c.s()
        return out

    # -- checks -------------------------------------------------------------------

    def check(self, res: dict) -> str | None:
        """None when the response is right, else what is wrong."""
        req, p = res["req"], res["payload"]
        kind = req["kind"]
        q = self.con.execute
        if kind == "page_geojson_offset":
            off = req["params"]["resultOffset"]
            exp = self.src.iloc[off:off + PAGE]
            got = [(f["properties"], tuple(f["geometry"]["coordinates"]))
                   for f in p["features"]]
            return _same_rows(got, exp, list(range(off, off + PAGE)))
        if kind in ("page_pbf_bbox", "page_outsr_bbox"):
            exp = _in_box(self.src, req["bbox"]).iloc[:PAGE]
            if kind == "page_pbf_bbox":
                d = decode.esri_pbf(p)
                got = [(a, c[0]) for a, c in d["features"]]
            else:
                got = [(f["attributes"], _merc_inv(f["geometry"]["x"],
                                                   f["geometry"]["y"]))
                       for f in p["features"]]
            if kind == "page_outsr_bbox" and p["exceededTransferLimit"] != (
                    len(_in_box(self.src, req["bbox"])) > PAGE):
                return "exceededTransferLimit disagrees with the bbox count"
            for _, (x, y) in got:
                b = req["bbox"]
                if not (b[0] - 1e-9 <= x <= b[2] + 1e-9
                        and b[1] - 1e-9 <= y <= b[3] + 1e-9):
                    return f"point {(x, y)} outside bbox {b}"
            return _same_rows(got, exp, list(exp.oid), tol=1e-6)
        if kind == "ids_bbox":
            exp = list(_in_box(self.src, req["bbox"]).oid)
            if list(p["objectIds"]) != exp:
                return f"ids {len(p['objectIds'])} vs {len(exp)}"
            return None
        if kind == "object_ids":
            exp = self.src.iloc[req["ids"]]
            got = sorted(
                ((f["attributes"], (f["geometry"]["x"], f["geometry"]["y"]))
                 for f in p["features"]), key=lambda g: g[0]["__oid"])
            return _same_rows(got, exp, req["ids"])
        if kind == "count_where_polygon":
            (x0, y0), (x1, _), _, (xm, ym), _, (_, y1), _ = req["ring"]
            n = q(f"""SELECT count(*) FROM src WHERE l_quantity > {req['q']} AND (
                (x BETWEEN {x0} AND {x1} AND y BETWEEN {y0} AND {ym})
                OR (x BETWEEN {x0} AND {xm} AND y BETWEEN {y0} AND {y1}))""").fetchone()[0]
            return None if p["count"] == n else f"count {p['count']} vs {n}"
        if kind == "extent_bbox":
            b = req["bbox"]
            n, *ext = q(f"""SELECT count(*), min(x), min(y), max(x), max(y)
                FROM src WHERE x BETWEEN {b[0]} AND {b[2]}
                AND y BETWEEN {b[1]} AND {b[3]}""").fetchone()
            got = p["extent"]
            if p["count"] != n:
                return f"count {p['count']} vs {n}"
            if n and [got[k] for k in ("xmin", "ymin", "xmax", "ymax")] != ext:
                return f"extent {got} vs {ext}"
            return None
        if "tile" in req:
            return self._check_tile(req, p)
        return f"no check for {kind}"

    def _check_tile(self, req: dict, payload: bytes) -> str | None:
        from_tile = decode.mvt(payload) if payload else {}
        feats = from_tile.get("layer", [])
        z, tx, ty = req["tile"]
        xmin, ymin, xmax, ymax = _tile_bbox(z, tx, ty)
        bx = (xmax - xmin) * TILE_BUFFER / TILE_EXTENT
        by = (ymax - ymin) * TILE_BUFFER / TILE_EXTENT
        exp = self.src[(self.src.x >= xmin - bx) & (self.src.x <= xmax + bx)
                       & (self.src.y >= ymin - by) & (self.src.y <= ymax + by)]
        n = float(1 << z)
        lat = np.radians(exp.y.to_numpy())
        wx = (exp.x.to_numpy() + 180.0) / 360.0 * n - tx
        wy = (1.0 - np.arcsinh(np.tan(lat)) / math.pi) / 2.0 * n - ty
        px = np.floor(wx * TILE_EXTENT + 0.5).astype(np.int64)
        py = np.floor(wy * TILE_EXTENT + 0.5).astype(np.int64)
        want = sorted(zip(exp.l_orderkey.tolist(), exp.l_linenumber.tolist(),
                          exp.l_quantity.tolist(), px.tolist(), py.tolist()))
        got = sorted(
            (f["id"], f["attrs"].get("l_linenumber"), f["attrs"].get("l_quantity"),
             *f["points"][0])
            for f in feats if f["points"]
        )
        if len(got) != len(want) or len(got) != len(feats):
            return f"tile {req['tile']}: {len(feats)} features vs {len(want)}"
        for g, w in zip(got, want):
            if g[:3] != w[:3] or abs(g[3] - w[3]) > 1 or abs(g[4] - w[4]) > 1:
                return f"tile {req['tile']}: {g} vs {w}"
        return None

    def layer_check(self) -> str | None:
        """The stored layer itself, read by DuckDB: one row per source row,
        with the bbox columns equal to the point."""
        root = os.path.join(self.run.tmp, "spark_graft_layers")
        layers = sorted(d for d in os.listdir(root) if "_" not in d[len("li_bbox_"):])
        if len(layers) != 1:
            return f"expected one built layer, found {layers}"
        path = os.path.join(root, layers[0], "*.parquet")
        n, bad = self.con.execute(f"""
            SELECT count(*), count(*) FILTER (WHERE __bbox_xmin <> __bbox_xmax
                OR __bbox_ymin <> __bbox_ymax)
            FROM read_parquet('{path}')""").fetchone()
        if bad or n != len(self.src):
            return f"layer rows {n} (vs {len(self.src)}), {bad} non-point bboxes"
        return None


def _in_box(src: pd.DataFrame, b) -> pd.DataFrame:
    return src[(src.x >= b[0]) & (src.x <= b[2]) & (src.y >= b[1]) & (src.y <= b[3])]


def _same_rows(got, exp: pd.DataFrame, oids: list[int], tol: float = 0.0):
    if len(got) != len(exp):
        return f"{len(got)} features vs {len(exp)}"
    for (attrs, (x, y)), oid, row in zip(got, oids, exp.itertuples()):
        if attrs.get("__oid") != oid:
            return f"oid {attrs.get('__oid')} vs {oid}"
        if (attrs.get("l_orderkey"), attrs.get("l_linenumber"),
                attrs.get("l_quantity")) != (row.l_orderkey, row.l_linenumber,
                                             row.l_quantity):
            return f"oid {oid}: attributes {attrs} vs source row {row}"
        if abs(x - row.x) > tol or abs(y - row.y) > tol:
            return f"oid {oid}: point {(x, y)} vs {(row.x, row.y)}"
    return None


_R = 6378137.0


def _merc_inv(mx: float, my: float) -> tuple[float, float]:
    """Web Mercator metres back to degrees."""
    return (math.degrees(mx / _R),
            math.degrees(2.0 * math.atan(math.exp(my / _R)) - math.pi / 2.0))


def _tile_bbox(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    n = 2.0**z

    def lat(t):
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * t / n))))

    return (x / n * 360.0 - 180.0, lat(y + 1), (x + 1) / n * 360.0 - 180.0, lat(y))

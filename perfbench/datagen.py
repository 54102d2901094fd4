"""Seeded inputs: the TPC-H-ish tables the registry and the point layer read,
and the GeoJSON / GeoParquet uploads the publish workload sends.

Row counts follow the TPC-H ratios (lineitem = 6M x sf). Value ranges and
column types mirror the project's test tables, so every registry row and
its DuckDB oracle run unchanged; the values themselves come from the seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash batch window "
    "spark order data column join small line customer query big stream "
    "sort group filter merge vector"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def sizes(sf: float) -> dict[str, int]:
    return {
        "lineitem": int(6_000_000 * sf),
        "orders": int(1_500_000 * sf),
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(rng, n, start, end):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    return rng.integers(lo, hi, n)


def _write(dir_, name, cols: dict, types: dict | None = None):
    arrays = {}
    for k, v in cols.items():
        t = (types or {}).get(k)
        arrays[k] = pa.array(v, type=t) if t is not None else pa.array(v)
    pq.write_table(pa.table(arrays), os.path.join(dir_, f"{name}.parquet"))


def lineitem(rng, sf: float) -> dict:
    n = sizes(sf)
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105000.0, m), 2)
    return {
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), m),
        "l_linestatus": rng.choice(np.array(["O", "F"]), m),
        "l_shipdate": _ts(rng, m, "1992-01-01", "2002-01-01") // 86_400_000_000
        * 86_400_000_000,
    }


def write_lineitem(dir_: str, seed: int, sf: float) -> str:
    os.makedirs(dir_, exist_ok=True)
    cols = lineitem(np.random.default_rng([seed, 7]), sf)
    _write(dir_, "lineitem", cols, {"l_shipdate": pa.timestamp("us")})
    return os.path.join(dir_, "lineitem.parquet")


def _text(rng, n_words: int) -> str:
    return " ".join(rng.choice(WORDS, n_words))


def write_tables(dir_: str, seed: int, sf: float) -> None:
    """All ten tables the registry reads."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng([seed, 11])
    n = sizes(sf)
    _write(dir_, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(dir_, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    c = n["customer"]
    _write(dir_, "customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
        ),
    })
    s = n["supplier"]
    _write(dir_, "supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2),
    })
    p = n["part"]
    colors = ["red", "blue", "green", "black", "white", "small", "large"]
    things = ["widget", "bolt", "ring", "gear", "panel", "valve"]
    _write(dir_, "part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(colors, p), rng.choice(things, p))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p
        ),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    _write(dir_, "orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
        "o_orderdate": _ts(rng, o, "1992-01-01", "1999-12-31")
        // 86_400_000_000 * 86_400_000_000,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
        ),
    }, {"o_orderdate": pa.timestamp("us")})
    li = lineitem(np.random.default_rng([seed, 7]), sf)
    _write(dir_, "lineitem", li, {"l_shipdate": pa.timestamp("us")})
    e = n["events"]
    ts = np.sort(_ts(rng, e, "2024-01-01", "2024-01-31"))
    _write(dir_, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(150, int(15_000 * sf)), e),
        "event_type": rng.choice(
            ["click", "view", "purchase", "signup", "error"], e
        ),
        "value": np.round(rng.exponential(50.0, e) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)],
    }, {"ts": pa.timestamp("us")})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document
            base = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(base)))
            base[j] = str(rng.choice(WORDS))
            texts.append(" ".join(base))
        else:
            texts.append(_text(rng, int(rng.integers(8, 90))))
    _write(dir_, "documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 5}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (m, 64))).astype(np.float32)
    _write(dir_, "embeddings", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


# ---------------------------------------------------------------------------
# uploads
# ---------------------------------------------------------------------------

NAMES = ["alder", "birch", "cedar", "elm é", "fir, spruce", "oak"]


def _geometry(rng, kind: str):
    x0 = float(np.round(rng.uniform(-170, 160), 6))
    y0 = float(np.round(rng.uniform(-80, 70), 6))
    if kind == "Point":
        return {"type": "Point", "coordinates": [x0, y0]}
    k = int(rng.integers(2, 6))
    steps = np.round(rng.uniform(0.01, 1.0, (k, 2)), 6)
    pts = [[x0, y0]]
    for dx, dy in steps:
        pts.append([round(pts[-1][0] + dx, 6), round(pts[-1][1] + dy, 6)])
    if kind == "LineString":
        return {"type": "LineString", "coordinates": pts}
    w, h = float(steps[0][0]) + 0.5, float(steps[0][1]) + 0.5
    ring = [[x0, y0], [round(x0 + w, 6), y0], [round(x0 + w, 6), round(y0 + h, 6)],
            [x0, round(y0 + h, 6)], [x0, y0]]
    return {"type": "Polygon", "coordinates": [ring]}


def features(seed: int, n: int, tag: int) -> list[dict]:
    """Mixed points / lines / polygons with typed, nullable properties.
    The first feature carries every property, so the sampled schema
    covers each key with its real type."""
    rng = np.random.default_rng([seed, 23, tag])
    kinds = rng.choice(["Point", "LineString", "Polygon"], n, p=[0.5, 0.25, 0.25])
    out = []
    for i in range(n):
        null = rng.random(3) < 0.1 if i else np.zeros(3, bool)
        out.append({
            "type": "Feature",
            "geometry": _geometry(rng, str(kinds[i])),
            "properties": {
                "fid": i,
                "pop": None if null[0] else int(rng.integers(-5000, 10**7)),
                "score": None if null[1] else float(np.round(rng.normal(0, 100), 4)),
                "name": None if null[2] else str(rng.choice(NAMES)),
            },
        })
    return out


def write_geojson(path: str, feats: list[dict]) -> None:
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)


def _wkt(g: dict) -> str:
    def pts(cs):
        return ", ".join(f"{x!r} {y!r}" for x, y in cs)

    if g["type"] == "Point":
        x, y = g["coordinates"]
        return f"POINT ({x!r} {y!r})"
    if g["type"] == "LineString":
        return f"LINESTRING ({pts(g['coordinates'])})"
    return "POLYGON (" + ", ".join(f"({pts(r)})" for r in g["coordinates"]) + ")"


def write_wkt_geoparquet(path: str, feats: list[dict]) -> None:
    """GeoParquet 1.0 with WKT-encoded geometry, written with pyarrow."""
    props = [f["properties"] for f in feats]
    table = pa.table({
        "geometry": pa.array([_wkt(f["geometry"]) for f in feats], pa.string()),
        "fid": pa.array([p["fid"] for p in props], pa.int64()),
        "pop": pa.array([p["pop"] for p in props], pa.int64()),
        "score": pa.array([p["score"] for p in props], pa.float64()),
        "name": pa.array([p["name"] for p in props], pa.string()),
    })
    geo = {
        "version": "1.0.0",
        "primary_column": "geometry",
        "columns": {"geometry": {"encoding": "WKT", "geometry_types": []}},
    }
    table = table.replace_schema_metadata({b"geo": json.dumps(geo).encode()})
    pq.write_table(table, path)


def sparse_features() -> list[dict]:
    """Fixed (seed-independent) upload whose property schema changes after
    the first 100 features: `rank` is integral for 100 features, then
    fractional, and `note` first appears at feature 120."""
    out = []
    for i in range(150):
        props = {"fid": i, "rank": i if i < 100 else i + 0.5}
        if i >= 120:
            props["note"] = f"late-{i}"
        out.append({
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": [i / 10.0, -i / 20.0]},
            "properties": props,
        })
    return out

"""Ingest: GeoJSON / GeoParquet → normalized WKB-geometry DataFrames
(ref api/main.py:678-899 upload_dataset / _read_geojson / _read_geoparquet).

Normalized form = `geometry` WKB binary first, all other columns
preserved — identical to the reference's Arrow normalization, so every
downstream operator (bbox prefilter, engine, serializers) takes ingested
data unchanged. GeoParquet *write* emits the standard `geo` file metadata
so external readers (DuckDB, geopandas, WASM) see valid GeoParquet.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_geospatial_api_server_spark.geo import wkb as W


def read_geojson(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON FeatureCollection (or newline-delimited features) → DataFrame.

    Features parse DISTRIBUTED: the file loads as whole-text JSON, features
    explode, and geometry converts to WKB in a JVM-side from_json +
    Arrow-kernel pipeline. (The reference shells out to DuckDB ST_Read —
    main.py:836-850.)"""
    raw = spark.read.text(path, wholetext=True)
    feats = raw.select(
        F.explode(
            F.from_json(
                F.col("value"),
                T.StructType([
                    T.StructField("features", T.ArrayType(T.StringType()))
                ]),
            )["features"]
        ).alias("feature")
    )
    # geometry json + properties map
    parsed = feats.select(
        F.get_json_object("feature", "$.geometry").alias("geometry_json"),
        F.get_json_object("feature", "$.properties").alias("props_json"),
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.BinaryType())
    def geojson_to_wkb(g: pd.Series) -> pd.Series:
        return pd.Series(
            [W.from_geojson(json.loads(s)) if s else None for s in g]
        )

    with_geom = parsed.select(
        geojson_to_wkb(F.col("geometry_json")).alias("geometry"), "props_json"
    )

    # infer the property schema over every feature, then extract typed
    # columns
    keys = _property_types(parsed.select("props_json"))
    cols = [F.col("geometry")] + [
        F.get_json_object("props_json", f"$.{k}").cast(t).alias(k)
        for k, t in keys.items()
    ]
    return with_geom.select(*cols)


# JSON value kinds, OR-ed together per property key
_INT, _DOUBLE, _OTHER = 1, 2, 4


def _property_types(props: DataFrame) -> dict[str, str]:
    """Property key → SQL type, over EVERY feature in one job: integral
    everywhere → bigint; numeric with some fractional value → double; any
    other kind or mix (strings, booleans, objects) → string. Nulls carry
    no type. Keys come in first-seen order. Each Arrow batch reports its
    keys once, so the driver merges (distinct keys × batches) rows."""

    def kind(v) -> int:
        if v is None:
            return 0
        if isinstance(v, int) and not isinstance(v, bool):
            return _INT
        return _DOUBLE if isinstance(v, float) else _OTHER

    def scan(batches):
        for pdf in batches:
            seen: dict[str, list[int]] = {}
            for pos, s in zip(pdf["pos"], pdf["props_json"]):
                for k, v in (json.loads(s) if s else {}).items():
                    e = seen.setdefault(k, [0, int(pos)])
                    e[0] |= kind(v)
            yield pd.DataFrame(
                {
                    "key": list(seen),
                    "kinds": [e[0] for e in seen.values()],
                    "pos": [e[1] for e in seen.values()],
                }
            )

    kinds: dict[str, int] = {}
    first: dict[str, int] = {}
    for r in (
        props.withColumn("pos", F.monotonically_increasing_id())
        .mapInPandas(scan, "key string, kinds int, pos long")
        .collect()
    ):
        kinds[r["key"]] = kinds.get(r["key"], 0) | r["kinds"]
        first[r["key"]] = min(first.get(r["key"], r["pos"]), r["pos"])

    def sql_type(k: str) -> str:
        if kinds[k] == _INT:
            return "bigint"
        return "double" if kinds[k] in (_DOUBLE, _INT | _DOUBLE) else "string"

    return {k: sql_type(k) for k in sorted(first, key=first.get)}


def read_geoparquet(spark: SparkSession, path: str) -> DataFrame:
    """GeoParquet → normalized DataFrame (ref main.py:853-899).

    Geometry column/encoding detected from the `geo` file metadata (ref
    main.py:517-533 _detect_geom_column_geoparquet); WKB passes through,
    WKT converts."""
    geom_col, encoding = detect_geoparquet_geometry(path)
    df = spark.read.parquet(path)
    if geom_col in df.columns:
        gtype = dict(df.dtypes).get(geom_col, "")
        if encoding.upper() == "WKT" or gtype == "string":
            from pyspark.sql.functions import pandas_udf

            @pandas_udf(T.BinaryType())
            def wkt_to_wkb(s: pd.Series) -> pd.Series:
                return pd.Series([W.from_wkt(v) if v else None for v in s])

            df = df.withColumn(geom_col, wkt_to_wkb(F.col(geom_col)))
        others = [c for c in df.columns if c != geom_col]
        df = df.select(F.col(geom_col).alias("geometry"), *others)
    return df


def detect_geoparquet_geometry(path: str) -> tuple[str, str]:
    """Read the `geo` key from parquet file metadata (ref main.py:517-533)."""
    import pyarrow.parquet as pq

    target = path
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
        if parts:
            target = os.path.join(path, parts[0])
    meta = pq.ParquetFile(target).schema_arrow.metadata or {}
    geo = json.loads(meta.get(b"geo", b"{}"))
    geom_col = geo.get("primary_column", "geometry")
    enc = geo.get("columns", {}).get(geom_col, {}).get("encoding", "WKB")
    return geom_col, enc


def write_geoparquet(
    df: DataFrame, path: str, geom_col: str = "geometry", mode: str = "overwrite"
) -> None:
    """Write GeoParquet: parquet + standard `geo` metadata (ref
    main.py:455-469 uses DuckDB COPY; we stamp the metadata with pyarrow
    after a distributed parquet write)."""
    from iceberg_geospatial_api_server_spark.geo import functions as G

    ext = None
    if geom_col in df.columns:
        row = G.extent(df, geom_col).head(1)
        if row and row[0]["xmin"] is not None:
            d = row[0].asDict()
            ext = [d["xmin"], d["ymin"], d["xmax"], d["ymax"]]

    df.write.mode(mode).parquet(path)

    geo_meta = {
        "version": "1.0.0",
        "primary_column": geom_col,
        "columns": {
            geom_col: {
                "encoding": "WKB",
                "geometry_types": [],
                **({"bbox": ext} if ext else {}),
            }
        },
    }
    import pyarrow.parquet as pq

    for fname in os.listdir(path):
        if not fname.endswith(".parquet"):
            continue
        fpath = os.path.join(path, fname)
        table = pq.read_table(fpath)
        meta = dict(table.schema.metadata or {})
        meta[b"geo"] = json.dumps(geo_meta).encode()
        pq.write_table(table.replace_schema_metadata(meta), fpath)
        # the in-place rewrite invalidates Hadoop's checksum sidecar
        crc = os.path.join(path, f".{fname}.crc")
        if os.path.exists(crc):
            os.unlink(crc)


def ingest(
    spark: SparkSession,
    paths: list[str],
    append_to: DataFrame | None = None,
) -> DataFrame:
    """Multi-file upload normalization (ref main.py:678-817): format by
    extension, schema-merge union, optional append to an existing table."""
    frames = []
    for p in paths:
        low = p.lower()
        if low.endswith((".geojson", ".json")):
            frames.append(read_geojson(spark, p))
        elif low.endswith((".parquet", ".geoparquet")) or os.path.isdir(p):
            frames.append(read_geoparquet(spark, p))
        else:
            raise ValueError(f"Unsupported file: {p} (.geojson/.parquet only)")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    if append_to is not None:
        out = append_to.unionByName(out, allowMissingColumns=True)
    return out

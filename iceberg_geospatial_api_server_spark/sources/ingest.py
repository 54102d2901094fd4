"""Ingest: GeoJSON / GeoParquet → normalized WKB-geometry DataFrames
(ref api/main.py:678-899 upload_dataset / _read_geojson / _read_geoparquet).

Normalized form = `geometry` WKB binary first, all other columns
preserved — identical to the reference's Arrow normalization, so every
downstream operator (bbox prefilter, engine, serializers) takes ingested
data unchanged. GeoParquet *write* (`write_geoparquet`) publishes a
served layer, the one write path of every layer the package serves, and
stamps the standard `geo` file metadata so external readers (DuckDB,
geopandas, WASM) see valid GeoParquet.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

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
    WKT converts. The column's `geometry_types` become the `geometry`
    field's declared types (`geo.functions.declare_geometry_types`), so
    serving the upload probes no row for its type. The `geo` list is the
    only source: it replaces the field metadata a Spark writer left in the
    file. A list naming anything but the 2D types this package decodes
    (`wkb._TYPE_NAMES`; e.g. GeoPandas' "Point Z", or an unknown name)
    declares nothing, and serving probes the data as for an undeclared
    upload."""
    from iceberg_geospatial_api_server_spark.geo import functions as G

    geom_col, meta = geoparquet_geometry_column(path)
    encoding = meta.get("encoding", "WKB")
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
        types, names = meta.get("geometry_types"), list(W._TYPE_NAMES.values())
        if not (isinstance(types, list) and all(t in names for t in types)):
            types = []
        df = G.declare_geometry_types(df, sorted(set(types)))
    return df


def geoparquet_geometry_column(path: str) -> tuple[str, dict]:
    """The primary geometry column named by the `geo` file metadata (ref
    main.py:517-533), and that column's entry there ({} when the file has
    none)."""
    import pyarrow.parquet as pq

    target = path
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
        if parts:
            target = os.path.join(path, parts[0])
    meta = pq.ParquetFile(target).schema_arrow.metadata or {}
    geo = json.loads(meta.get(b"geo", b"{}"))
    geom_col = geo.get("primary_column", "geometry")
    return geom_col, geo.get("columns", {}).get(geom_col, {})


def write_geoparquet(df: DataFrame, path: str) -> None:
    """Publish `df` at `path` as a served GeoParquet layer: the one write
    path of every layer the package serves (ref main.py:455-469 uses
    DuckDB COPY). An existing `path` is replaced once the new layer is
    built, so `df` may read that layer itself.

    Pay the WKB decode once at ingest, never per query (ref
    engine.py:232-279 keeps the bbox pre-filter columns in the table). The
    layer persists `__bbox_*` (`with_bbox`: extent is a footer-stats
    min/max, bbox filters prune row groups) and `__oid` (`engine.with_oid`
    in its default order, so requests never rank), each unless `df` has
    it; the geometry field declares its types (`declare_geometry_types`,
    kept in the parquet footer, so requests never probe); rows are
    z-ordered on (`__bbox_xmin`, `__bbox_ymin`) (`sources.zorder`); and
    every part carries the standard `geo` metadata, stamped with pyarrow
    on the driver. One aggregate gives the z-order bounds, the extent and
    the WKB headers. The layer lands in a sibling temp dir and moves onto
    `path` by an atomic rename; when a concurrent writer's rename lands
    first, its copy wins."""
    from iceberg_geospatial_api_server_spark.engine import with_oid
    from iceberg_geospatial_api_server_spark.geo import functions as G
    from iceberg_geospatial_api_server_spark.sources.zorder import zorder_write

    if "geometry" not in df.columns:
        raise ValueError(f"no `geometry` column to publish in {df.columns}")
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    if "__bbox_xmin" not in df.columns:
        df = G.with_bbox(df)
    df = with_oid(df)
    xmin, ymin, xmax, ymax, xmin_hi, ymin_hi, heads = df.agg(
        F.min("__bbox_xmin"), F.min("__bbox_ymin"),
        F.max("__bbox_xmax"), F.max("__bbox_ymax"),
        F.max("__bbox_xmin"), F.max("__bbox_ymin"), G.wkb_headers(),
    ).first()
    types = G.header_types(heads)
    df = G.declare_geometry_types(df, types)
    column = {"encoding": "WKB", "geometry_types": types}
    if xmin is not None:
        column["bbox"] = [xmin, ymin, xmax, ymax]
    geo = json.dumps(
        {"version": "1.0.0", "primary_column": "geometry",
         "columns": {"geometry": column}}
    ).encode()

    build = tempfile.mkdtemp(prefix=f".{os.path.basename(path)}_", dir=parent)
    try:
        bounds = {"__bbox_xmin": (xmin, xmin_hi), "__bbox_ymin": (ymin, ymin_hi)}
        zorder_write(df, list(bounds), build, n_files=8, bounds=bounds)
        _stamp_geo(build, geo)
        # `df` may read the layer at `path` itself (republished in place, or
        # appended to), so the old layer moves aside only after every job
        try:
            os.rename(path, f"{build}.old")
        except FileNotFoundError:
            pass
        try:
            os.rename(build, path)
        except OSError:
            # a concurrent writer's layer landed at `path` meanwhile
            if not os.path.isdir(path):
                raise
    finally:
        for d in (build, f"{build}.old"):
            shutil.rmtree(d, ignore_errors=True)


def _stamp_geo(path: str, geo: bytes) -> None:
    """Set the `geo` file metadata of every parquet part under `path`. Each
    part is rewritten one row group at a time: it keeps Spark's row groups
    (bbox filters prune on their footer stats), the driver holds one row
    group, and INT96 timestamps stay INT96, which Spark reads as
    `timestamp`."""
    import pyarrow.parquet as pq

    for fname in os.listdir(path):
        if not fname.endswith(".parquet"):
            continue
        fpath, tmp = os.path.join(path, fname), os.path.join(path, f".{fname}.geo")
        with pq.ParquetFile(fpath, coerce_int96_timestamp_unit="us") as src:
            schema = src.schema_arrow
            int96 = any(
                src.schema.column(i).physical_type == "INT96"
                for i in range(len(src.schema))
            )
            meta = {**(schema.metadata or {}), b"geo": geo}
            with pq.ParquetWriter(
                tmp, schema.with_metadata(meta),
                use_deprecated_int96_timestamps=int96,
            ) as out:
                for i in range(src.num_row_groups):
                    group = src.read_row_group(i)
                    out.write_table(group, row_group_size=max(group.num_rows, 1))
        os.replace(tmp, fpath)
        # the rewrite invalidates Hadoop's checksum sidecar
        crc = os.path.join(path, f".{fname}.crc")
        if os.path.exists(crc):
            os.unlink(crc)


def ingest(
    spark: SparkSession,
    paths: list[str],
    append_to: DataFrame | None = None,
) -> DataFrame:
    """Multi-file upload normalization (ref main.py:678-817): format by
    extension, schema-merge union, optional append to an existing table.

    A union keeps the field metadata of its first input only, so the
    result's geometry field is declared afresh: the union of every input's
    declared types when each input declares some, else nothing (an
    undeclared input may hold any type). One published layer's `__oid` and
    `__bbox_*` are not valid in a union, so a union or an append drops
    them from every input (`catalog.INTERNAL_COLS`); `write_geoparquet`
    derives them again."""
    from iceberg_geospatial_api_server_spark.catalog import INTERNAL_COLS
    from iceberg_geospatial_api_server_spark.geo import functions as G

    frames = []
    for p in paths:
        low = p.lower()
        if low.endswith((".geojson", ".json")):
            frames.append(read_geojson(spark, p))
        elif low.endswith((".parquet", ".geoparquet")) or os.path.isdir(p):
            frames.append(read_geoparquet(spark, p))
        else:
            raise ValueError(f"Unsupported file: {p} (.geojson/.parquet only)")
    if append_to is not None:
        frames.insert(0, append_to)
    if len(frames) > 1:
        frames = [f.drop(*INTERNAL_COLS) for f in frames]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    if "geometry" in out.columns:
        declared = [
            G.declared_geometry_types(f) if "geometry" in f.columns else []
            for f in frames
        ]
        types = sorted(set().union(*declared)) if all(declared) else []
        out = G.declare_geometry_types(out, types)
    return out

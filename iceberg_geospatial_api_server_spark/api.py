"""GeoServices / OGC parameter translation (ref geoservices/routes/
feature_server.py:126-268 query_layer + helpers).

HTTP serving itself is out of scope (Spark is the engine, not the web
tier) — this module is the pure translation layer an API front-end calls:
Esri query params → QueryParams → engine.query_features → serializer.
"""

from __future__ import annotations

import json
from dataclasses import replace

from iceberg_geospatial_api_server_spark.models import QueryParams

SPATIAL_REL_MAP = {
    "esriSpatialRelIntersects": "intersects",
    "esriSpatialRelEnvelopeIntersects": "intersects",
    "esriSpatialRelContains": "contains",
    "esriSpatialRelWithin": "within",
}


def parse_spatial_ref(sr: str | None) -> int | None:
    """Ref feature_server.py:271-295: plain WKID or JSON SR object."""
    if sr is None:
        return None
    try:
        return int(sr)
    except (ValueError, TypeError):
        pass
    try:
        obj = json.loads(sr)
        if isinstance(obj, dict):
            return int(obj.get("latestWkid") or obj.get("wkid") or 4326)
    except (json.JSONDecodeError, TypeError, ValueError):
        pass
    return None


def parse_esri_geometry(
    geometry_str: str, geometry_type: str = "esriGeometryEnvelope"
) -> tuple[tuple[float, float, float, float] | None, str | None]:
    """Ref feature_server.py:298-337: envelope/point/polygon/bbox-string →
    (bbox, wkt)."""
    try:
        geom = json.loads(geometry_str)
    except (json.JSONDecodeError, TypeError):
        parts = [float(x) for x in geometry_str.split(",")]
        if len(parts) == 4:
            return tuple(parts), None
        raise ValueError(f"Cannot parse geometry: {geometry_str}")

    if "xmin" in geom:
        return (geom["xmin"], geom["ymin"], geom["xmax"], geom["ymax"]), None
    if "x" in geom:
        return None, f"POINT ({geom['x']} {geom['y']})"
    if "rings" in geom:
        ring = geom["rings"][0]
        coords = ", ".join(f"{x} {y}" for x, y in ring)
        return None, f"POLYGON (({coords}))"
    raise ValueError(f"Unsupported geometry type: {geometry_type}")


def _to_bool(val, default=False):
    if val is None:
        return default
    if isinstance(val, bool):
        return val
    return str(val).lower() in ("true", "1", "yes")


def parse_geoservices_params(
    params: dict, max_record_count: int = 10000
) -> QueryParams:
    """Full GeoServices query-param translation (ref feature_server.py:
    126-238): where/objectIds/geometry/spatialRel/outFields/
    returnGeometry/returnCountOnly/returnIdsOnly/resultOffset/
    resultRecordCount/orderByFields/outSR."""
    where = params.get("where", "1=1")
    geometry_param = params.get("geometry")
    bbox = wkt = None
    if geometry_param:
        bbox, wkt = parse_esri_geometry(
            geometry_param, params.get("geometryType", "esriGeometryEnvelope")
        )

    object_ids = None
    if params.get("objectIds"):
        object_ids = [
            int(x.strip()) for x in str(params["objectIds"]).split(",") if x.strip()
        ]

    def _int(key, default=None):
        try:
            return int(params[key])
        except (KeyError, ValueError, TypeError):
            return default

    return QueryParams(
        bbox=bbox,
        geometry_filter=wkt,
        spatial_rel=SPATIAL_REL_MAP.get(
            params.get("spatialRel", "esriSpatialRelIntersects"), "intersects"
        ),
        where=None if where == "1=1" else where,
        out_fields=params.get("outFields", "*"),
        return_geometry=_to_bool(params.get("returnGeometry"), True),
        return_count_only=_to_bool(params.get("returnCountOnly"), False),
        return_ids_only=_to_bool(params.get("returnIdsOnly"), False),
        return_extent_only=_to_bool(params.get("returnExtentOnly"), False),
        object_ids=object_ids,
        limit=_int("resultRecordCount", max_record_count),
        offset=_int("resultOffset", 0),
        order_by=params.get("orderByFields"),
        out_sr=parse_spatial_ref(params.get("outSR")),
        max_allowable_offset=_float(params, "maxAllowableOffset"),
    )


def _float(params: dict, key: str) -> float | None:
    try:
        return float(params[key])
    except (KeyError, ValueError, TypeError):
        return None


# outSR handling: out_sr == the layer's srid passes through; any
# supported src→dst pair reprojects via closed forms composed through
# the 4326 hub (geo.functions.pair_reproject_fn — 3857/102100, the
# WGS84 UTM family, and the registered LCC/Albers/LAEA/PS codes, in
# EITHER position); any other request is an explicit error, never
# silently-wrong output.


def query_layer(
    df,
    params: dict,
    out_format: str | None = None,
    max_record_count: int = 10000,
):
    """The /{service}/FeatureServer/{layer}/query handler, HTTP-free
    (ref routes/feature_server.py:124-269): raw GeoServices params →
    QueryParams → engine.query_features → serializer chosen by `f`
    (json → Esri JSON FeatureSet, pbf → FeatureCollection protobuf,
    geojson → GeoJSON FeatureCollection).

    Returns (payload, media_type) — a dict for the JSON formats, bytes
    for pbf — so any web framework (or none) can wrap it.
    """
    from iceberg_geospatial_api_server_spark.catalog import feature_schema
    from iceberg_geospatial_api_server_spark.engine import query_features
    from iceberg_geospatial_api_server_spark.serializers import (
        esri_json,
        esri_pbf,
        geojson,
    )

    fmt = (out_format or params.get("f") or "json").lower()
    schema = feature_schema(df)
    qp = parse_geoservices_params(
        params, max_record_count=min(schema.max_record_count, max_record_count)
    )
    # geometry shaping (ref feature_server.py:183,259) happens in the
    # engine: reproject to outSR, then thin with maxAllowableOffset
    result = query_features(df, qp, src_srid=schema.srid or 4326)

    # extent-only short-circuit: envelope (reprojected to outSR when
    # requested) + count, no feature payload
    if qp.return_extent_only:
        from iceberg_geospatial_api_server_spark.geo import functions as G

        srid = schema.srid or 4326
        ext = result.extent
        if ext is not None and qp.out_sr is not None and qp.out_sr != srid:
            # arbitrary supported pair: inverse(src)→4326→forward(dst)
            fn = G.pair_reproject_fn(srid, qp.out_sr)
            if fn is None:
                raise ValueError(
                    f"unsupported outSR: no closed form for "
                    f"{srid} -> {qp.out_sr}"
                )
            import numpy as np

            # transform the envelope BOUNDARY, not just two corners: for
            # non-separable projections (UTM) the extreme easting/
            # northing can sit mid-edge (parallels/meridians map to
            # curves), so sample each edge densely and take min/max
            ymin, ymax = ext["ymin"], ext["ymax"]
            if qp.out_sr == 3857 and srid == 4326:
                # the clamp is a latitude-domain bound — only meaningful
                # when the source coordinates ARE degrees
                # web-mercator is undefined at the poles (y → ±inf, which
                # json.dumps would emit as non-standard 'Infinity'):
                # clamp to the projection's standard latitude domain
                lim = 85.05112878
                ymin = max(ymin, -lim)
                ymax = min(ymax, lim)
            gx = np.linspace(ext["xmin"], ext["xmax"], 17)
            gy = np.linspace(ymin, ymax, 17)
            bx = np.concatenate(
                [gx, gx, np.full_like(gy, ext["xmin"]),
                 np.full_like(gy, ext["xmax"])]
            )
            by = np.concatenate(
                [np.full_like(gx, ymin),
                 np.full_like(gx, ymax), gy, gy]
            )
            xs, ys = fn(bx, by)
            ext = {
                "xmin": float(np.min(xs)),
                "ymin": float(np.min(ys)),
                "xmax": float(np.max(xs)),
                "ymax": float(np.max(ys)),
            }
            srid = qp.out_sr
        payload = {
            "count": result.count,
            "extent": None
            if ext is None
            else ext | {"spatialReference": {"wkid": srid}},
        }
        return payload, "application/json"

    if (
        qp.out_sr is not None
        and result.features is not None
        and result.geometry_column in result.features.columns
    ):
        schema = replace(schema, srid=qp.out_sr)
    # execute: the page's one collect happens here, and the serializers
    # only format the collected rows
    result.rows  # noqa: B018

    if fmt == "pbf":
        return esri_pbf.serialize(result, schema), "application/x-protobuf"
    if fmt == "geojson":
        return geojson.serialize(result), "application/geo+json"
    return esri_json.serialize(result, schema), "application/json"


def get_tile(
    df,
    z: int,
    x: int,
    y: int,
    layer_name: str = "layer",
    out_fields: list[str] | None = None,
    max_record_count: int = 10000,
    extent: int = 4096,
    buffer_px: int = 64,
):
    """The /{layer}/tiles/{z}/{x}/{y}.mvt handler, HTTP-free — the tile
    sibling of `query_layer`: feature schema supplies the id/geometry
    columns, the engine's WHERE surface is bypassed (a tile request IS a
    bbox query), and the serializer is the Mapbox Vector Tile writer.

    Returns (payload bytes, media_type). Empty tiles return b'' so a
    server can 204 them.
    """
    from iceberg_geospatial_api_server_spark.catalog import feature_schema
    from iceberg_geospatial_api_server_spark.serializers.mvt import (
        serialize_tile,
    )

    schema = feature_schema(df)
    fields = out_fields
    if fields is None:
        fields = [
            f["name"]
            for f in schema.fields
            if f["name"] not in (schema.geometry_column, schema.id_field)
        ][:8]
    id_col = schema.id_field if schema.id_field in df.columns else None
    payload = serialize_tile(
        df,
        z,
        x,
        y,
        layer_name=layer_name,
        out_fields=fields,
        id_col=id_col,
        geom_col=schema.geometry_column or "geometry",
        extent=extent,
        buffer_px=buffer_px,
        max_features=min(schema.max_record_count, max_record_count),
    )
    return payload, "application/vnd.mapbox-vector-tile"

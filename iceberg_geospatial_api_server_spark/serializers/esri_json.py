"""QueryResult → Esri JSON FeatureSet (ref serializers/esri_json.py).

Esri JSON differs from GeoJSON in geometry shape: points are {"x","y"},
polygons {"rings":[...]}, polylines {"paths":[...]}. The page's collected
rows are formatted on the driver, one feature per row.
"""

from __future__ import annotations

from iceberg_geospatial_api_server_spark.catalog import FeatureSchema
from iceberg_geospatial_api_server_spark.geo import wkb as W
from iceberg_geospatial_api_server_spark.models import QueryResult
from iceberg_geospatial_api_server_spark.serializers import json_attributes

ESRI_GEOMETRY_TYPE_MAP = {
    "Point": "esriGeometryPoint",
    "MultiPoint": "esriGeometryMultipoint",
    "LineString": "esriGeometryPolyline",
    "MultiLineString": "esriGeometryPolyline",
    "Polygon": "esriGeometryPolygon",
    "MultiPolygon": "esriGeometryPolygon",
}

_ESRI_FIELD_TYPES = {
    "string": "esriFieldTypeString",
    "int32": "esriFieldTypeInteger",
    "int64": "esriFieldTypeInteger",
    "float": "esriFieldTypeSingle",
    "double": "esriFieldTypeDouble",
    "boolean": "esriFieldTypeSmallInteger",
    "date": "esriFieldTypeDate",
    "timestamp": "esriFieldTypeDate",
}


def wkb_to_esri_geometry(buf: bytes) -> dict | None:
    """Ref esri_json.py:73-97 _wkb_to_esri_geometry (shapely-free)."""
    code, payload = W.decode(buf)
    if code == W.POINT:
        return {"x": payload[0], "y": payload[1]}
    if code == W.LINESTRING:
        return {"paths": [payload.tolist()]}
    if code == W.MULTILINESTRING:
        return {"paths": [p.tolist() for p in payload]}
    if code == W.POLYGON:
        return {"rings": [r.tolist() for r in payload]}
    if code == W.MULTIPOLYGON:
        rings = []
        for poly in payload:
            rings.extend(r.tolist() for r in poly)
        return {"rings": rings}
    if code == W.MULTIPOINT:
        return {"points": [list(p) for p in payload]}
    return None


def build_field_definitions(schema: FeatureSchema) -> list[dict]:
    return [
        {
            "name": f["name"],
            "type": _ESRI_FIELD_TYPES.get(f["type"], "esriFieldTypeString"),
            "alias": f.get("alias", f["name"]),
        }
        for f in schema.fields
    ]


def serialize(result: QueryResult, schema: FeatureSchema) -> dict:
    """Full Esri FeatureSet response (ref esri_json.py:19-70)."""
    if result.features is None:
        return {"count": result.count}

    cols = result.features.columns
    rows = result.rows
    if cols == ["__oid"]:
        return {
            "objectIdFieldName": "__oid",
            "objectIds": [r["__oid"] for r in rows],
        }

    geom_col = result.geometry_column
    props = [c for c in cols if c != geom_col and not c.startswith("__bbox_")]
    feats = [
        {
            "attributes": json_attributes(r, props),
            "geometry": None
            if r.get(geom_col) is None
            else wkb_to_esri_geometry(bytes(r[geom_col])),
        }
        for r in rows
    ]

    fields = [
        {"name": "__oid", "type": "esriFieldTypeOID", "alias": "OID"}
    ] + build_field_definitions(schema)

    return {
        "objectIdFieldName": "__oid",
        "geometryType": ESRI_GEOMETRY_TYPE_MAP.get(
            schema.geometry_type, "esriGeometryPolygon"
        ),
        "spatialReference": {"wkid": schema.srid},
        "fields": fields,
        "features": feats,
        "exceededTransferLimit": result.exceeded_transfer_limit,
    }

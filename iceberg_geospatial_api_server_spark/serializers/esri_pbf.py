"""QueryResult → Esri FeatureCollection PBF (ref serializers/esri_pbf.py,
public spec: github.com/Esri/arcgis-pbf FeatureCollection.proto).

A from-scratch protobuf *wire-format* writer (no generated classes, no
protobuf dependency): varint/zigzag/tag primitives plus the message subset
ArcGIS clients read — quantized delta-encoded coordinates (Transform +
packed sint64 coords + lengths), typed attribute Values, Fields,
FeatureResult / CountResult / ObjectIdsResult envelopes.

Each collected row of the bounded page encodes to one Feature message on
the driver (`encode_row`), and the messages are concatenated as length-
delimited fields of the FeatureResult.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from iceberg_geospatial_api_server_spark.catalog import FeatureSchema
from iceberg_geospatial_api_server_spark.geo import wkb as W
from iceberg_geospatial_api_server_spark.models import QueryResult

QUANTIZE_RESOLUTION = 1e8  # ref esri_pbf.py:41

# wire types
_VARINT, _I64, _LEN, _I32 = 0, 1, 2, 5

GEOM_TYPE_CODES = {
    "Point": 0, "MultiPoint": 1,
    "LineString": 2, "MultiLineString": 2,
    "Polygon": 3, "MultiPolygon": 3,
}

FIELD_TYPE_CODES = {
    "boolean": 0, "int32": 1, "float": 2, "double": 3,
    "string": 4, "timestamp": 5, "date": 5, "int64": 13,
}


# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------


def varint(v: int) -> bytes:
    out = bytearray()
    v &= (1 << 64) - 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def tag(field: int, wire: int) -> bytes:
    return varint((field << 3) | wire)


def ld(field: int, payload: bytes) -> bytes:
    """length-delimited field"""
    return tag(field, _LEN) + varint(len(payload)) + payload


def vi(field: int, value: int) -> bytes:
    return tag(field, _VARINT) + varint(value)


def dbl(field: int, value: float) -> bytes:
    import struct

    return tag(field, _I64) + struct.pack("<d", value)


def packed_varints(field: int, values) -> bytes:
    body = b"".join(varint(v) for v in values)
    return ld(field, body)


# ---------------------------------------------------------------------------
# message builders (field numbers from FeatureCollection.proto)
# ---------------------------------------------------------------------------


def encode_value(v, simple_type: str) -> bytes:
    """Value oneof (proto: string=1 float=2 double=3 sint=4 ... bool=9 null=10)."""
    if v is None:
        return vi(10, 1)
    if simple_type == "string":
        return ld(1, str(v).encode())
    if simple_type == "double":
        return dbl(3, float(v))
    if simple_type == "float":
        return dbl(3, float(v))
    if simple_type in ("int32",):
        return tag(4, _VARINT) + varint(zigzag(int(v)))
    if simple_type in ("int64",):
        return tag(8, _VARINT) + varint(zigzag(int(v)))
    if simple_type == "boolean":
        return vi(9, 1 if v else 0)
    if simple_type in ("timestamp", "date"):
        ms = int(pd.Timestamp(v).value // 1_000_000)
        return tag(8, _VARINT) + varint(zigzag(ms))
    return ld(1, str(v).encode())


def encode_field(name: str, ftype: str, alias: str | None = None) -> bytes:
    body = ld(1, name.encode())
    body += vi(2, FIELD_TYPE_CODES.get(ftype, 4))
    body += ld(3, (alias or name).encode())
    return body


def _quantize(coords: np.ndarray) -> np.ndarray:
    """upperLeft-origin quantization: x scales up, y axis inverted."""
    q = np.empty_like(coords, dtype=np.int64)
    q[:, 0] = np.round(coords[:, 0] * QUANTIZE_RESOLUTION).astype(np.int64)
    q[:, 1] = np.round(-coords[:, 1] * QUANTIZE_RESOLUTION).astype(np.int64)
    return q


def _delta(q: np.ndarray) -> np.ndarray:
    d = q.copy()
    d[1:] = q[1:] - q[:-1]
    return d


def encode_geometry(buf: bytes) -> bytes:
    """Geometry message: geometryType=1, packed lengths=2, packed sint64
    coords=3 — delta-encoded quantized vertex stream."""
    code, payload = W.decode(buf)
    gtype = GEOM_TYPE_CODES[W._TYPE_NAMES[code]]

    if code == W.POINT:
        q = _quantize(np.array([payload]))
        coords = [zigzag(int(q[0, 0])), zigzag(int(q[0, 1]))]
        return vi(1, gtype) + packed_varints(3, coords)

    if code == W.MULTIPOINT:
        parts = np.array(payload)
        q = _delta(_quantize(parts))
        flat = [zigzag(int(v)) for xy in q for v in xy]
        return vi(1, gtype) + packed_varints(2, [len(parts)]) + packed_varints(3, flat)

    if code in (W.LINESTRING, W.MULTILINESTRING):
        lines = [payload] if code == W.LINESTRING else payload
    else:  # polygonal: flatten rings (ref esri semantics)
        polys = [payload] if code == W.POLYGON else payload
        lines = [r for rings in polys for r in rings]

    lengths, flat = [], []
    for part in lines:
        q = _delta(_quantize(np.asarray(part)))
        lengths.append(len(part))
        flat.extend(zigzag(int(v)) for xy in q for v in xy)
    return vi(1, gtype) + packed_varints(2, lengths) + packed_varints(3, flat)


def encode_feature(attr_values: list[bytes], geom_buf: bytes | None) -> bytes:
    """Feature: repeated Value attributes=1, Geometry geometry=2."""
    body = b"".join(ld(1, v) for v in attr_values)
    if geom_buf is not None:
        body += ld(2, encode_geometry(geom_buf))
    return body


def encode_spatial_reference(wkid: int) -> bytes:
    return vi(1, wkid) + vi(2, wkid)


def encode_transform() -> bytes:
    """Transform: origin upperLeft(=0 default), scale=2, translate=3."""
    s = 1.0 / QUANTIZE_RESOLUTION
    scale = dbl(1, s) + dbl(2, s)
    translate = dbl(1, 0.0) + dbl(2, 0.0)
    return ld(2, scale) + ld(3, translate)


def encode_row(
    row: dict, attr_cols: list[tuple[str, str]], geom_col: str | None
) -> bytes:
    """One Feature message from a collected row: attribute Values in
    `attr_cols` order (name, simple type), then the geometry."""
    vals = [encode_value(row[c], t) for c, t in attr_cols]
    g = row[geom_col] if geom_col is not None else None
    return encode_feature(vals, bytes(g) if g is not None else None)


def serialize(result: QueryResult, schema: FeatureSchema) -> bytes:
    """FeatureCollectionPBuffer bytes (ref esri_pbf.py:44-116).

    version=1 (string), queryResult=2 → featureResult=1 with
    objectIdFieldName, geometryType, spatialReference, transform, fields,
    features.
    """
    if result.features is None:
        count_result = vi(1, int(result.count))
        qr = ld(2, count_result)  # QueryResult.countResult = 2
        return ld(1, b"") + ld(2, qr)

    cols = result.features.columns
    rows = result.rows
    if cols == ["__oid"]:
        oids = [int(r["__oid"]) for r in rows]
        ids_result = ld(1, b"__oid") + packed_varints(3, oids)
        return ld(1, b"") + ld(2, ld(3, ids_result))

    geom_col = result.geometry_column if result.geometry_column in cols else None
    type_by_name = {f["name"]: f["type"] for f in schema.fields}
    type_by_name["__oid"] = "int32"
    attr_cols = [(c, type_by_name.get(c, "string")) for c in cols if c != geom_col]

    fr = ld(1, b"__oid")  # objectIdFieldName
    fr += vi(7, GEOM_TYPE_CODES.get(schema.geometry_type, 3))
    fr += ld(8, encode_spatial_reference(schema.srid))
    fr += vi(9, 1 if result.exceeded_transfer_limit else 0)
    fr += ld(12, encode_transform())
    fr += ld(13, encode_field("__oid", "int32", "OID"))
    for name, ftype in attr_cols:
        if name != "__oid":
            fr += ld(13, encode_field(name, ftype))
    fr += b"".join(ld(15, encode_row(r, attr_cols, geom_col)) for r in rows)

    return ld(1, b"") + ld(2, ld(1, fr))

"""Wire-format serializers: GeoJSON, Esri JSON, Esri PBF, GeoArrow IPC,
GeoParquet, MVT. A served page is bounded (a FeatureServer page or a
tile's feature cap), so the engine collects it once and the serializers
format its rows on the driver with the per-row Python encoders; unbounded
exports (`geojson.stream`, GeoArrow batches) stay distributed."""

from __future__ import annotations

import base64
import datetime
import math
from decimal import Decimal

from pyspark.sql import Row


def json_value(v):
    """One collected attribute value in the form Spark's `to_json` writes
    it under the UTC session zone, which is what the JSON documents
    carried when rows were formatted in the JVM."""
    if isinstance(v, float) and not math.isfinite(v):
        return "NaN" if v != v else ("Infinity" if v > 0 else "-Infinity")
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        # TIMESTAMP (UTC-aware once collected through QueryResult.rows) in
        # the session zone, UTC, as `...SSSZ`; TIMESTAMP_NTZ (naive) bare
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return v.isoformat(timespec="milliseconds") + "Z"
        return v.isoformat(timespec="milliseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(v).decode()
    if isinstance(v, Row):
        v = v.asDict()
    if isinstance(v, dict):
        return {k: json_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [json_value(x) for x in v]
    return v


def json_attributes(row: dict, cols: list[str]) -> dict:
    """Every declared field present: NULL attributes are explicit nulls,
    not missing keys, as Esri and GeoJSON clients expect."""
    return {c: json_value(row[c]) for c in cols}

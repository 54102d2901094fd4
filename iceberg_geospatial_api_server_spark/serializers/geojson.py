"""QueryResult → GeoJSON FeatureCollection (ref serializers/geojson.py).

`serialize` formats a bounded page's collected rows on the driver.
`stream` builds the per-feature JSON DISTRIBUTED: geometry decodes to a
GeoJSON fragment in an Arrow-batched kernel, properties serialize with the
JVM `to_json`, and the driver only concatenates the streamed fragments
into the FeatureCollection envelope — so a 10^9-feature export never
materializes python objects for the whole result on one node.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_geospatial_api_server_spark.geo import wkb as W
from iceberg_geospatial_api_server_spark.geo.functions import st_asgeojson
from iceberg_geospatial_api_server_spark.models import QueryResult
from iceberg_geospatial_api_server_spark.serializers import json_attributes


def feature_lines(df: DataFrame, geom_col: str = "geometry") -> DataFrame:
    """One GeoJSON Feature object (as a JSON string column) per row.
    Geometry-less results (skip_geometry / returnGeometry=false) emit
    `"geometry": null` like the reference serializer."""
    props = [c for c in df.columns if c != geom_col and not c.startswith("__bbox_")]
    geom_json = (
        F.coalesce(st_asgeojson(F.col(geom_col)), F.lit("null"))
        if geom_col in df.columns
        else F.lit("null")
    )
    feature = F.concat(
        F.lit('{"type": "Feature", "geometry": '),
        geom_json,
        F.lit(', "properties": '),
        F.to_json(
            F.struct(*[F.col(c) for c in props]),
            # Esri/GeoJSON clients expect every declared field present —
            # NULL attributes serialize as null, not as a missing key
            {"ignoreNullFields": "false"},
        ),
        F.lit("}"),
    )
    return df.select(feature.alias("feature_json"))


def serialize(result: QueryResult) -> dict:
    """Full FeatureCollection dict from the collected page (for HTTP
    streaming of unbounded results use `stream()` instead)."""
    if result.features is None:
        return {"type": "FeatureCollection", "features": []}
    geom_col = result.geometry_column
    props = [
        c
        for c in result.features.columns
        if c != geom_col and not c.startswith("__bbox_")
    ]
    feats = [
        {
            "type": "Feature",
            "geometry": None
            if r.get(geom_col) is None
            else W.to_geojson(bytes(r[geom_col])),
            "properties": json_attributes(r, props),
        }
        for r in result.rows
    ]
    return {"type": "FeatureCollection", "features": feats}


def stream(result: QueryResult) -> Iterator[str]:
    """Chunked FeatureCollection emitter (toLocalIterator — one partition
    in driver memory at a time)."""
    yield '{"type": "FeatureCollection", "features": ['
    first = True
    if result.features is not None:
        for row in feature_lines(
            result.features, result.geometry_column
        ).toLocalIterator():
            if not first:
                yield ","
            yield row[0]
            first = False
    yield "]}"

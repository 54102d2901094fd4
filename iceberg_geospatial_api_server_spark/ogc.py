"""OGC API Features provider semantics (ref pygeoapi_provider/iceberg.py).

The second of the reference's API surfaces: pygeoapi-style query
parameters (offset/limit, resulttype=hits, bbox, property equality
filters, sortby, select_properties, skip_geometry) translated into the
shared QueryParams — same engine, different dialect. `get()` fetches one
feature by id-field. GeoJSON formatting reuses serializers.geojson.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_geospatial_api_server_spark.catalog import FeatureSchema, feature_schema
from iceberg_geospatial_api_server_spark.engine import query_features
from iceberg_geospatial_api_server_spark.models import QueryParams
from iceberg_geospatial_api_server_spark.serializers import geojson
from iceberg_geospatial_api_server_spark.session import served


class OgcFeaturesProvider:
    """pygeoapi-BaseProvider-shaped adapter over a DataFrame table. The
    table is re-bound to the serving session (`session.served`) once, here,
    so its requests evaluate interpreted as `api.query_layer`'s do."""

    def __init__(
        self,
        df: DataFrame,
        table_identifier: str = "table",
        geometry_column: str | None = None,
        oid_order: list[str] | None = None,
    ):
        self.df = served(df)
        self.geometry_column = geometry_column
        self.oid_order = oid_order
        self._schema: FeatureSchema = feature_schema(self.df, table_identifier)
        if geometry_column:
            self._schema.geometry_column = geometry_column

    def get_fields(self) -> dict[str, dict]:
        """Ref iceberg.py:55-57."""
        return {
            f["name"]: {"type": f["type"]}
            for f in self._schema.fields
        }

    def query(
        self,
        offset: int = 0,
        limit: int = 10,
        resulttype: str = "results",
        bbox: list[float] | None = None,
        properties: list[dict[str, Any]] | None = None,
        sortby: list[dict[str, str]] | None = None,
        select_properties: list[str] | None = None,
        skip_geometry: bool = False,
        **kwargs,
    ) -> dict:
        """Ref iceberg.py:59-122: pygeoapi params → QueryParams → engine."""
        params = QueryParams(
            bbox=tuple(bbox) if bbox else None,
            limit=limit,
            offset=offset,
            return_geometry=not skip_geometry,
            return_count_only=(resulttype == "hits"),
        )
        if properties:
            # typed Column predicates — property values never pass through
            # SQL text, so no quoting/escaping surface exists at all;
            # unknown property names fail fast instead of reaching Spark
            expr = None
            for prop in properties:
                name = prop["property"]
                if name not in self.df.columns:
                    raise ValueError(f"unknown property: {name}")
                clause = F.col(name) == F.lit(prop["value"])
                expr = clause if expr is None else expr & clause
            params.where_expr = expr
        if sortby:
            params.order_by = ", ".join(
                f"{s['property']} {'ASC' if s.get('order', 'A') == 'A' else 'DESC'}"
                for s in sortby
            )
        if select_properties:
            params.out_fields = ",".join(select_properties)

        result = query_features(
            self.df, params, geom_col=self._schema.geometry_column,
            oid_order=self.oid_order,
        )
        if resulttype == "hits":
            return {
                "type": "FeatureCollection",
                "features": [],
                "numberMatched": result.count,
            }
        fc = geojson.serialize(result)
        fc["numberReturned"] = len(fc["features"])
        return fc

    def get(self, identifier) -> dict:
        """Single feature by id field (ref iceberg.py:124-137)."""
        ident = str(identifier).replace("'", "''")
        params = QueryParams(
            where=f"{self._schema.id_field} = '{ident}'", limit=1
        )
        result = query_features(
            self.df, params, geom_col=self._schema.geometry_column,
            oid_order=self.oid_order,
        )
        fc = geojson.serialize(result)
        if not fc["features"]:
            raise KeyError(f"Feature {identifier} not found")
        return fc["features"][0]

"""OGC provider semantics + FeatureServer metadata builders."""

import pytest

from iceberg_geospatial_api_server_spark.metadata import (
    build_layer_metadata,
    build_service_metadata,
)
from iceberg_geospatial_api_server_spark.ogc import OgcFeaturesProvider

OID_ORDER = [
    "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_shipdate",
]


@pytest.fixture(scope="module")
def provider(spark, tables):
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )

    geoms = lineitem_point_geoms(tables["lineitem"])
    return OgcFeaturesProvider(
        geoms, "test.lineitem_points", "geometry", oid_order=OID_ORDER
    )


def test_ogc_query_results(provider):
    fc = provider.query(limit=5, bbox=[-180, -85, 180, 85])
    assert fc["type"] == "FeatureCollection"
    assert fc["numberReturned"] == 5
    assert fc["features"][0]["geometry"]["type"] == "Point"


def test_ogc_hits_and_property_filter(provider):
    hits = provider.query(resulttype="hits",
                          properties=[{"property": "l_returnflag", "value": "R"}])
    assert hits["numberMatched"] > 0
    assert hits["features"] == []

    fc = provider.query(
        limit=3,
        properties=[{"property": "l_returnflag", "value": "R"}],
        sortby=[{"property": "l_quantity", "order": "D"}],
        select_properties=["l_orderkey", "l_quantity", "l_returnflag"],
        skip_geometry=True,
    )
    qs = [f["properties"]["l_quantity"] for f in fc["features"]]
    assert qs == sorted(qs, reverse=True)
    assert all(f["properties"]["l_returnflag"] == "R" for f in fc["features"])
    assert fc["features"][0]["geometry"] is None


def test_ogc_get_by_id(provider):
    feat = provider.query(limit=1)["features"][0]
    ident = feat["properties"]["l_orderkey"]
    got = provider.get(ident)
    assert got["properties"]["l_orderkey"] == ident
    with pytest.raises(KeyError):
        provider.get(-999999)


def test_ogc_items_with_a_fresh_bbox_compile_no_code(spark, provider):
    """The provider's table is bound to the serving session once, so an
    items request with a bbox it has not seen adds 0 Janino compiles."""
    from iceberg_geospatial_api_server_spark.session import serving_session

    assert provider.df.sparkSession is serving_session(spark)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    provider.query(limit=5, bbox=[-120.5, -40.5, 10.5, 30.5])
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    fc = provider.query(limit=5, bbox=[-100.25, -35.25, 20.75, 40.75])
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0
    assert fc["numberReturned"] == 5


def test_metadata_builders(spark, tables):
    from iceberg_geospatial_api_server_spark.catalog import feature_schema
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )

    schema = feature_schema(
        lineitem_point_geoms(tables["lineitem"]).limit(200), "ns.lineitem_points"
    )
    svc = build_service_metadata("ns", ["lineitem_points"], [schema])
    assert svc["layers"] == [
        {"id": 0, "name": "lineitem_points", "type": "Feature Layer",
         "geometryType": "esriGeometryPoint"}
    ]
    assert svc["capabilities"] == "Query"

    layer = build_layer_metadata(schema, 0)
    assert layer["objectIdField"] == "__oid"
    assert layer["geometryType"] == "esriGeometryPoint"
    assert layer["fields"][0]["type"] == "esriFieldTypeOID"
    assert layer["extent"]["spatialReference"] == {"wkid": 4326}
    assert layer["maxRecordCount"] == 10000

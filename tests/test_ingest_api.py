"""Ingest normalization (GeoJSON/GeoParquet → WKB) and GeoServices param
translation (mirrors reference test_geoservices_query.py)."""

import json

import pytest
from pyspark.sql import functions as F

from iceberg_geospatial_api_server_spark.api import (
    parse_esri_geometry,
    parse_geoservices_params,
    parse_spatial_ref,
)
from iceberg_geospatial_api_server_spark.geo import wkb as W
from iceberg_geospatial_api_server_spark.sources import ingest


@pytest.fixture(scope="module")
def geojson_file(tmp_path_factory):
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [1.5, 2.5]},
                "properties": {"name": "a", "val": 10},
            },
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]],
                },
                "properties": {"name": "b", "val": 20},
            },
        ],
    }
    p = tmp_path_factory.mktemp("ingest") / "data.geojson"
    p.write_text(json.dumps(fc))
    return str(p)


def test_read_geojson_normalizes_to_wkb(spark, geojson_file):
    df = ingest.read_geojson(spark, geojson_file)
    assert df.columns[0] == "geometry"
    rows = {r.name: r for r in df.collect()}
    assert W.geometry_type_name(bytes(rows["a"].geometry)) == "Point"
    assert W.geometry_type_name(bytes(rows["b"].geometry)) == "Polygon"
    assert rows["a"].val == 10


def test_geoparquet_roundtrip(spark, tables, tmp_path):
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )

    src = lineitem_point_geoms(tables["lineitem"]).select(
        "geometry", "l_orderkey", "l_quantity"
    ).limit(200)
    out = str(tmp_path / "geo.parquet")
    ingest.write_geoparquet(src, out)

    col, enc = ingest.detect_geoparquet_geometry(out)
    assert (col, enc) == ("geometry", "WKB")

    back = ingest.read_geoparquet(spark, out)
    assert back.columns[0] == "geometry"
    assert back.count() == 200
    buf = bytes(back.select("geometry").first()[0])
    assert W.geometry_type_name(buf) == "Point"


def test_ingest_union_and_append(spark, geojson_file):
    df1 = ingest.ingest(spark, [geojson_file])
    df2 = ingest.ingest(spark, [geojson_file], append_to=df1)
    assert df2.count() == 2 * df1.count()
    with pytest.raises(ValueError):
        ingest.ingest(spark, ["data.csv"])


# --- GeoServices param translation ----------------------------------------


def test_parse_spatial_ref_forms():
    assert parse_spatial_ref("4326") == 4326
    assert parse_spatial_ref('{"wkid": 102100, "latestWkid": 3857}') == 3857
    assert parse_spatial_ref(None) is None
    assert parse_spatial_ref("garbage") is None


def test_parse_esri_geometry_forms():
    bbox, wkt = parse_esri_geometry("1,2,3,4")
    assert bbox == (1.0, 2.0, 3.0, 4.0) and wkt is None

    bbox, wkt = parse_esri_geometry('{"xmin":0,"ymin":1,"xmax":2,"ymax":3}')
    assert bbox == (0, 1, 2, 3)

    bbox, wkt = parse_esri_geometry('{"x": 5, "y": 6}')
    assert bbox is None and wkt == "POINT (5 6)"

    bbox, wkt = parse_esri_geometry('{"rings": [[[0,0],[1,0],[1,1],[0,0]]]}')
    assert wkt.startswith("POLYGON ((0 0, 1 0, 1 1, 0 0))")

    with pytest.raises(ValueError):
        parse_esri_geometry("1,2,3")


def test_parse_geoservices_params_full():
    p = parse_geoservices_params(
        {
            "where": "pop > 100",
            "geometry": '{"xmin":-10,"ymin":-10,"xmax":10,"ymax":10}',
            "spatialRel": "esriSpatialRelContains",
            "outFields": "name,pop",
            "returnGeometry": "false",
            "resultOffset": "20",
            "resultRecordCount": "50",
            "orderByFields": "pop DESC",
            "outSR": "3857",
            "objectIds": "1, 2, 3",
        }
    )
    assert p.where == "pop > 100"
    assert p.bbox == (-10, -10, 10, 10)
    assert p.spatial_rel == "contains"
    assert p.out_fields == "name,pop"
    assert p.return_geometry is False
    assert p.offset == 20 and p.limit == 50
    assert p.order_by == "pop DESC"
    assert p.out_sr == 3857
    assert p.object_ids == [1, 2, 3]


def test_parse_geoservices_defaults():
    p = parse_geoservices_params({}, max_record_count=500)
    assert p.where is None and p.limit == 500 and p.return_geometry


def test_query_layer_format_dispatch(spark, tables):
    """End-to-end route handler: params dict in, serialized payload out,
    all three wire formats."""
    from iceberg_geospatial_api_server_spark.api import query_layer
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )

    df = lineitem_point_geoms(tables["lineitem"]).limit(200)

    js, mt = query_layer(df, {"where": "l_quantity > 25", "resultRecordCount": "5"})
    assert mt == "application/json"
    assert len(js["features"]) == 5
    assert all(f["attributes"]["l_quantity"] > 25 for f in js["features"])

    gj, mt = query_layer(df, {"f": "geojson", "resultRecordCount": "3"})
    assert mt == "application/geo+json"
    assert gj["type"] == "FeatureCollection" and len(gj["features"]) == 3

    pbf, mt = query_layer(df, {"returnCountOnly": "true"}, out_format="pbf")
    assert mt == "application/x-protobuf" and isinstance(pbf, bytes) and len(pbf) > 0

    # ids-only ignores pagination — the reference returns every matching
    # OID (ref engine.py:390-398), and so do we
    ids, mt = query_layer(df, {"returnIdsOnly": "true", "resultRecordCount": "4"})
    assert "objectIds" in ids and len(ids["objectIds"]) == df.count()


def test_query_layer_out_sr_mercator(spark, tables):
    """outSR=3857 must actually reproject coordinates (round-1 parsed the
    param then ignored it) and stamp the output spatialReference."""
    import math

    from iceberg_geospatial_api_server_spark.api import query_layer
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )

    df = lineitem_point_geoms(tables["lineitem"]).limit(50)
    js4326, _ = query_layer(df, {"resultRecordCount": "5"})
    js3857, _ = query_layer(df, {"resultRecordCount": "5", "outSR": "3857"})
    assert js3857["spatialReference"]["wkid"] == 3857

    R = 6378137.0
    for f0, f1 in zip(js4326["features"], js3857["features"]):
        lon, lat = f0["geometry"]["x"], f0["geometry"]["y"]
        assert f1["geometry"]["x"] == pytest.approx(lon * math.pi * R / 180.0)
        assert f1["geometry"]["y"] == pytest.approx(
            math.log(math.tan((90.0 + lat) * math.pi / 360.0)) * R
        )

    with pytest.raises(ValueError, match="unsupported outSR"):
        query_layer(df, {"outSR": "27700", "resultRecordCount": "1"})


def test_utm_cols_matches_numpy_kernel(spark):
    """The JVM column arithmetic (oracle-comparable exp/ln hyperbolics)
    and the numpy Krüger kernel must agree to sub-micrometer."""
    import numpy as np
    import pandas as pd

    from iceberg_geospatial_api_server_spark.geo import wkb as W
    from iceberg_geospatial_api_server_spark.geo.functions import utm_cols

    lons = np.linspace(-4.0, 34.0, 40)
    lats = np.linspace(0.5, 83.0, 40)
    df = spark.createDataFrame(pd.DataFrame({"lon": lons, "lat": lats}))
    e_col, n_col = utm_cols(F.col("lon"), F.col("lat"), 33, True)
    got = df.select(e_col.alias("e"), n_col.alias("n")).toPandas()
    e_ref, n_ref = W.lonlat_to_utm(lons, lats, 33, True)
    np.testing.assert_allclose(got["e"], e_ref, atol=1e-6)
    np.testing.assert_allclose(got["n"], n_ref, atol=1e-6)


def test_query_layer_return_extent_only(spark, tables):
    """returnExtentOnly returns the filtered set's envelope + count with
    no feature payload; outSR reprojects the envelope corners."""
    import numpy as np

    from iceberg_geospatial_api_server_spark.api import query_layer
    from iceberg_geospatial_api_server_spark.geo import wkb as W
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )

    df = lineitem_point_geoms(tables["lineitem"]).limit(200)
    out, mt = query_layer(df, {"returnExtentOnly": "true"})
    assert mt == "application/json"
    ext = out["extent"]
    assert out["count"] == df.count()
    assert ext["xmin"] <= ext["xmax"] and ext["ymin"] <= ext["ymax"]
    assert ext["spatialReference"]["wkid"] == 4326

    # count consistency with returnCountOnly
    cnt, _ = query_layer(df, {"returnCountOnly": "true"})
    assert cnt["count"] == out["count"]

    # outSR: the reprojected envelope must COVER every reprojected
    # feature (boundary-sampled, not just two corners — UTM extremes can
    # sit mid-edge when the extent straddles the central meridian).
    # Restrict to zone-33's validity window: UTM is undefined for data
    # ±90°+ from the central meridian (same with pyproj).
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        LI_X,
        LI_Y,
    )

    zone_df = df.filter(
        (F.expr(LI_X) >= -5.0) & (F.expr(LI_X) <= 35.0) & (F.expr(LI_Y) >= 0.0)
    )
    utm, _ = query_layer(zone_df, {"returnExtentOnly": "true", "outSR": "32633"})
    uext = utm["extent"]
    assert uext["spatialReference"]["wkid"] == 32633
    pts = query_layer(zone_df, {"resultRecordCount": "200"})[0]["features"]
    lons = np.array([f["geometry"]["x"] for f in pts])
    lats = np.array([f["geometry"]["y"] for f in pts])
    e, n = W.lonlat_to_utm(lons, lats, 33, True)
    eps = 1e-6
    assert uext["xmin"] <= e.min() + eps and e.max() <= uext["xmax"] + eps
    assert uext["ymin"] <= n.min() + eps and n.max() <= uext["ymax"] + eps

    # empty filtered set → null extent, zero count
    empty, _ = query_layer(
        df, {"returnExtentOnly": "true", "where": "l_quantity < -1"}
    )
    assert empty["count"] == 0 and empty["extent"] is None


def test_query_layer_out_sr_utm(spark, tables):
    """outSR in the WGS84 UTM family (EPSG:326xx/327xx) reprojects through
    the closed-form transverse Mercator (ref reaches the same codes via
    pyproj, query/geometry.py:80-102)."""
    import numpy as np

    from iceberg_geospatial_api_server_spark.api import query_layer
    from iceberg_geospatial_api_server_spark.geo import wkb as W
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )

    df = lineitem_point_geoms(tables["lineitem"]).limit(20)
    js4326, _ = query_layer(df, {"resultRecordCount": "5"})
    js_utm, _ = query_layer(df, {"resultRecordCount": "5", "outSR": "32633"})
    assert js_utm["spatialReference"]["wkid"] == 32633

    for f0, f1 in zip(js4326["features"], js_utm["features"]):
        e, n = W.lonlat_to_utm(
            np.array([f0["geometry"]["x"]]),
            np.array([f0["geometry"]["y"]]),
            33,
            True,
        )
        assert f1["geometry"]["x"] == pytest.approx(e[0])
        assert f1["geometry"]["y"] == pytest.approx(n[0])


def test_query_layer_max_allowable_offset(spark):
    """maxAllowableOffset must thin vertices server-side (st_simplify in
    the route, ref feature_server.py:183,259)."""
    import numpy as np

    from iceberg_geospatial_api_server_spark.api import query_layer
    from iceberg_geospatial_api_server_spark.geo import wkb as W

    # a noisy near-straight line: 50 vertices, amplitude 0.01
    xs = np.linspace(0.0, 10.0, 50)
    ys = np.where(np.arange(50) % 2 == 0, 0.0, 0.01)
    line = W.encode_linestring(np.column_stack([xs, ys]))
    df = spark.createDataFrame(
        [(1, bytearray(line))], "fid int, geometry binary"
    )

    full, _ = query_layer(df, {"f": "geojson"})
    thinned, _ = query_layer(df, {"f": "geojson", "maxAllowableOffset": "0.5"})
    n_full = len(full["features"][0]["geometry"]["coordinates"])
    n_thin = len(thinned["features"][0]["geometry"]["coordinates"])
    assert n_full == 50 and n_thin == 2


def test_extent_out_sr_mercator_polar_clamp(spark):
    """A layer reaching the poles must reproject its extent to FINITE
    web-mercator values (lat is clamped to ±85.05112878 before the edge
    sampling) — ±inf would serialize as non-standard JSON 'Infinity'."""
    import json
    import math

    from iceberg_geospatial_api_server_spark.api import query_layer
    from iceberg_geospatial_api_server_spark.geo import wkb as W

    rows = [
        (1, bytearray(W.encode_point(0.0, 90.0))),   # north pole
        (2, bytearray(W.encode_point(10.0, -90.0))), # south pole
        (3, bytearray(W.encode_point(-20.0, 45.0))),
    ]
    df = spark.createDataFrame(rows, "fid long, geometry binary")
    out, _ = query_layer(
        df, {"returnExtentOnly": "true", "outSR": "3857"}
    )
    ext = out["extent"]
    vals = [ext["xmin"], ext["ymin"], ext["xmax"], ext["ymax"]]
    assert all(math.isfinite(v) for v in vals), vals
    # strict-JSON serializable
    json.loads(json.dumps(ext))
    # clamped northern edge ≈ mercator(85.05112878) ≈ 20037508.34
    assert ext["ymax"] == pytest.approx(20037508.34, rel=1e-3)
    assert ext["ymin"] == pytest.approx(-20037508.34, rel=1e-3)


def test_geojson_property_types_inferred_over_every_feature(spark, tmp_path):
    """Types come from all 150 features, not a leading sample: a key first
    seen at feature 130 is kept, an integral property that turns fractional
    at feature 120 becomes double, and an int/string mix becomes string."""
    feats = []
    for i in range(150):
        props = {"a": i if i < 120 else i + 0.5, "mixed": i if i < 140 else "x"}
        if i >= 130:
            props["late"] = f"v{i}"
        feats.append({
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": [i * 0.1, 1.0]},
            "properties": props,
        })
    p = tmp_path / "sparse.geojson"
    p.write_text(json.dumps({"type": "FeatureCollection", "features": feats}))

    df = ingest.read_geojson(spark, str(p))
    assert dict(df.dtypes) == {
        "geometry": "binary", "a": "double", "mixed": "string", "late": "string",
    }
    rows = sorted(df.drop("geometry").collect(), key=lambda r: r["a"])
    assert len(rows) == 150
    assert [r["a"] for r in rows[118:122]] == [118.0, 119.0, 120.5, 121.5]
    assert rows[129]["late"] is None and rows[130]["late"] == "v130"
    assert rows[0]["mixed"] == "0" and rows[149]["mixed"] == "x"

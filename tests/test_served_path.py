"""The served request path on the persisted lineitem layer: jobs per
request, persisted OIDs, internal columns kept out of the layer's fields,
and the page/tile edge cases of the one over-fetched collect."""

import json
import math
import time

import pytest
from pyspark.sql import functions as F

from iceberg_geospatial_api_server_spark import api
from iceberg_geospatial_api_server_spark.catalog import feature_schema
from iceberg_geospatial_api_server_spark.serializers.mvt import (
    decode_tile,
    serialize_tile,
    tile_bbox,
)
from test_serializers import _parse_message


@pytest.fixture(scope="module")
def layer(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.sources.geo_layer import (
        lineitem_bbox_layer,
    )

    return lambda: lineitem_bbox_layer(spark, sf_dir)


@pytest.fixture(scope="module")
def points(layer):
    """(x, y) of every point in the layer, in OID order."""
    return [
        (r[0], r[1])
        for r in layer()
        .orderBy("__oid")
        .select("__bbox_xmin", "__bbox_ymin")
        .collect()
    ]


def _tile_of(x: float, y: float, z: int) -> tuple[int, int, int]:
    n = 2**z
    tx = int((x + 180.0) / 360.0 * n)
    ty = int((1.0 - math.asinh(math.tan(math.radians(y))) / math.pi) / 2.0 * n)
    return z, min(tx, n - 1), min(ty, n - 1)


def _in_tile(points, z, x, y, buffer_px=64, extent=4096) -> int:
    xmin, ymin, xmax, ymax = tile_bbox(z, x, y)
    bx = (xmax - xmin) * buffer_px / extent
    by = (ymax - ymin) * buffer_px / extent
    return sum(
        xmin - bx <= px <= xmax + bx and ymin - by <= py <= ymax + by
        for px, py in points
    )


def _pbf_page(blob: bytes) -> tuple[int, bool]:
    """(feature count, exceededTransferLimit) of an Esri PBF page."""
    qr = _parse_message(_parse_message(blob)[2][0])
    fr = _parse_message(qr[1][0])
    return len(fr.get(15, [])), bool(fr.get(9, [0])[0])


def test_persisted_oids_equal_with_oid_over_source_layer(spark, sf_dir, layer):
    """The layer's stored __oid column is exactly what the engine assigns
    per request over the un-persisted point layer (same default order)."""
    from iceberg_geospatial_api_server_spark.engine import with_oid
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )
    from iceberg_geospatial_api_server_spark.sources.tables import load_table

    cols = ["geometry", "l_orderkey", "l_linenumber", "l_quantity", "__oid"]
    src = with_oid(
        lineitem_point_geoms(load_table(spark, sf_dir, "lineitem")).select(*cols[:-1])
    )

    def rows(df):
        return sorted(
            (bytes(r[0]), r[1], r[2], r[3], r[4]) for r in df.select(*cols).collect()
        )

    persisted = rows(layer())
    assert persisted == rows(src)
    assert [r[4] for r in sorted(persisted, key=lambda r: r[4])] == list(
        range(len(persisted))
    )


def test_layer_fields_hide_internal_columns(layer, points):
    """feature_schema lists attribute fields only: a default-field tile
    works on the persisted layer (it used to select the dropped __bbox_*
    columns), and Esri `fields` name no internal column but the OID."""
    df = layer()
    names = [f["name"] for f in feature_schema(df).fields]
    assert names == ["l_orderkey", "l_linenumber", "l_quantity"]

    z, x, y = _tile_of(*points[0], 6)
    payload, _ = api.get_tile(df, z, x, y)
    feats = decode_tile(payload)[0]["features"]
    assert len(feats) == _in_tile(points, z, x, y) > 0
    assert set(decode_tile(payload)[0]["keys"]) == {"l_linenumber", "l_quantity"}

    page, _ = api.query_layer(df, {"f": "json", "resultRecordCount": 3})
    internal = [f["name"] for f in page["fields"] if f["name"].startswith("__")]
    assert internal == ["__oid"]
    assert len(page["features"]) == 3


def test_served_requests_run_one_spark_job(spark, layer, points):
    """Every request kind of the map_session mix — the layer resolved per
    request, as a stateless handler does — runs at most one Spark job: one
    scan collected once. The geometry type comes from the layer's declared
    `geometry_types`, so no probe runs."""
    sc = spark.sparkContext
    x0, y0 = points[len(points) // 2]
    box = f"{x0 - 30},{y0 - 20},{x0 + 30},{y0 + 20}"
    ring = [[x0 - 20, y0 - 20], [x0 + 20, y0 - 20], [x0 + 20, y0 + 20],
            [x0 - 20, y0 - 20]]
    pages = {
        "count_where_polygon": {
            "f": "json", "returnCountOnly": "true", "where": "l_quantity > 5",
            "geometryType": "esriGeometryPolygon",
            "geometry": json.dumps({"rings": [ring]}),
        },
        "page_pbf_bbox": {"f": "pbf", "resultRecordCount": 50, "geometry": box},
        "page_geojson_offset": {
            "f": "geojson", "resultRecordCount": 50, "resultOffset": 1000,
        },
        "extent_bbox": {"f": "json", "returnExtentOnly": "true", "geometry": box},
        "ids_bbox": {"f": "json", "returnIdsOnly": "true", "geometry": box},
        "page_outsr_bbox": {
            "f": "json", "resultRecordCount": 50, "outSR": "102100",
            "geometry": box,
        },
        "object_ids": {"f": "json", "objectIds": "3,17,400,2500"},
    }
    tiles = {
        "tile_z4": (_tile_of(x0, y0, 4), ["l_linenumber", "l_quantity"]),
        "tile_z9": (_tile_of(x0, y0, 9), ["l_linenumber", "l_quantity"]),
        "tile_default_fields": (_tile_of(x0, y0, 6), None),
    }

    def run(kind):
        df = layer()
        if kind in tiles:
            (z, x, y), fields = tiles[kind]
            return api.get_tile(df, z, x, y, out_fields=fields)[0]
        return api.query_layer(df, dict(pages[kind]))[0]

    for kind in [*pages, *tiles]:
        run(kind)  # warm
        group = f"served_jobs_{kind}"
        sc.setJobGroup(group, kind)
        try:
            payload = run(kind)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup("served_jobs_done", "")
        assert len(jobs) <= 1, (kind, len(jobs))
        # no vacuous answers
        if kind in tiles:
            assert decode_tile(payload)[0]["features"], kind
        elif kind == "page_pbf_bbox":
            assert _pbf_page(payload)[0] > 0
        elif kind in ("count_where_polygon", "extent_bbox"):
            assert payload["count"] > 0, kind
        elif kind == "ids_bbox":
            assert payload["objectIds"] == sorted(payload["objectIds"]) != []
        else:
            assert payload["features"], kind


def _source_layer(spark, sf_dir):
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )
    from iceberg_geospatial_api_server_spark.sources.tables import load_table

    return lineitem_point_geoms(load_table(spark, sf_dir, "lineitem"))


@pytest.mark.parametrize("which", ["lineitem_point_geoms", "lineitem_bbox_layer"])
@pytest.mark.parametrize("fmt", ["json", "geojson", "pbf"])
def test_page_edges(spark, sf_dir, layer, which, fmt):
    """Empty result, offset past the end, exactly `limit` rows left, and
    one row more than the page: the over-fetched collect must report
    exceededTransferLimit only in the last case."""
    df = layer() if which == "lineitem_bbox_layer" else _source_layer(spark, sf_dir)
    n = df.count()
    lim = 7
    cases = [
        ({"where": "l_quantity < 0"}, [], False),
        ({"resultOffset": n + 5}, [], False),
        ({"resultOffset": n - lim}, list(range(n - lim, n)), False),
        ({"resultOffset": n - lim - 1}, list(range(n - lim - 1, n - 1)), True),
    ]
    for extra, oids, exceeded in cases:
        params = {"f": fmt, "resultRecordCount": lim, **extra}
        payload, _ = api.query_layer(df, params)
        if fmt == "pbf":
            assert _pbf_page(payload) == (len(oids), exceeded), extra
            continue
        feats = payload["features"]
        key = "properties" if fmt == "geojson" else "attributes"
        assert [f[key]["__oid"] for f in feats] == oids, extra
        if fmt == "json":
            assert payload["exceededTransferLimit"] is exceeded, extra


@pytest.mark.parametrize("which", ["lineitem_point_geoms", "lineitem_bbox_layer"])
def test_tile_edges(spark, sf_dir, layer, points, which):
    """A tile with no features, a tile whose cap equals its feature count
    (all returned), and one capped a feature short (the lowest ids)."""
    df = layer() if which == "lineitem_bbox_layer" else _source_layer(spark, sf_dir)
    kw = {"out_fields": ["l_quantity"], "id_col": "l_orderkey"}
    assert serialize_tile(df, 12, 0, 0, **kw) == b""  # arctic corner, no points

    z, x, y = _tile_of(*points[0], 5)
    n = _in_tile(points, z, x, y)
    assert n >= 2
    full = decode_tile(serialize_tile(df, z, x, y, max_features=n, **kw))
    assert len(full[0]["features"]) == n
    short = decode_tile(serialize_tile(df, z, x, y, max_features=n - 1, **kw))
    ids = sorted(f["id"] for f in full[0]["features"])
    assert sorted(f["id"] for f in short[0]["features"]) == ids[: n - 1]


def test_page_collects_once(spark, layer):
    """count, exceededTransferLimit and the rows come from ONE collect of
    the page plus one row, resolved on first access; `features` stays the
    lazy plan of exactly the page."""
    from iceberg_geospatial_api_server_spark.engine import query_features
    from iceberg_geospatial_api_server_spark.models import QueryParams

    df = layer()
    res = query_features(df, QueryParams(limit=5, offset=10))
    assert "TakeOrderedAndProject" in res.features._jdf.queryExecution().toString()
    sc = spark.sparkContext
    sc.setJobGroup("page_collects_once", "")
    try:
        assert res.exceeded_transfer_limit is True
        assert res.count == 5
        assert [r["__oid"] for r in res.rows] == list(range(10, 15))
        jobs = sc.statusTracker().getJobIdsForGroup("page_collects_once")
    finally:
        sc.setJobGroup("page_collects_once_done", "")
    assert len(jobs) == 1
    assert [r["__oid"] for r in res.features.collect()] == list(range(10, 15))

    unbounded = query_features(
        df, QueryParams(limit=None, where="l_quantity > 45", out_fields="l_quantity")
    )
    assert unbounded.count == df.filter(F.col("l_quantity") > 45).count()
    assert unbounded.exceeded_transfer_limit is False


@pytest.fixture
def new_york_tz(monkeypatch):
    """The Python process in a zone that is not UTC (the JVM's session
    zone stays UTC)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("fmt", ["json", "geojson", "pbf"])
def test_page_timestamps_keep_their_instant(spark, new_york_tz, fmt):
    """A TIMESTAMP attribute is served as the instant it stores, whatever
    the serving process's local zone: Spark's `to_json` form in JSON, epoch
    milliseconds in PBF. TIMESTAMP_NTZ stays a wall-clock time."""
    from iceberg_geospatial_api_server_spark.geo import wkb as W

    df = spark.sql(
        "SELECT 1L AS fid, unhex('{}') AS geometry, "
        "timestamp'2020-03-08 07:30:00.123' AS ts, "
        "timestamp_ntz'2020-03-08 07:30:00.5' AS wall".format(
            W.encode_point(1.0, 2.0).hex()
        )
    )
    want = json.loads(
        df.select(F.to_json(F.struct("ts", "wall"))).collect()[0][0]
    )
    assert want == {"ts": "2020-03-08T07:30:00.123Z", "wall": "2020-03-08T07:30:00.500"}
    payload, _ = api.query_layer(df, {"f": fmt})
    if fmt == "pbf":
        qr = _parse_message(_parse_message(payload)[2][0])
        fr = _parse_message(qr[1][0])
        attrs = _parse_message(fr[15][0])[1]
        ts = _parse_message(attrs[2])[8][0]  # __oid, fid, ts, wall
        assert (ts >> 1) ^ -(ts & 1) == 1583652600123
        return
    key = "properties" if fmt == "geojson" else "attributes"
    got = payload["features"][0][key]
    assert {k: got[k] for k in ("ts", "wall")} == want


def test_unbounded_page_is_shaped(layer):
    """outSR and maxAllowableOffset shape the rows of an unbounded page
    (resultRecordCount=0) exactly as they shape a bounded one."""
    df = layer()
    params = {
        "f": "json", "where": "l_orderkey < 40", "outSR": "3857",
        "maxAllowableOffset": "10",
    }
    bounded, _ = api.query_layer(df, {**params, "resultRecordCount": 1000})
    unbounded, _ = api.query_layer(df, {**params, "resultRecordCount": 0})
    assert unbounded["spatialReference"]["wkid"] == 3857
    assert unbounded["features"] == bounded["features"] != []
    assert abs(unbounded["features"][0]["geometry"]["x"]) > 180


def _jobs_of(spark, group, fn):
    """(fn's result, the Spark job ids it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "")
    try:
        out = fn()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(f"{group}_done", "")
    return out, jobs


def test_declared_geometry_types_survive_a_cold_read(spark, sf_dir):
    """The layer's geometry field declares ["Point"] when it is read from
    parquet with no remembered schema, and feature_schema then runs no
    job."""
    from iceberg_geospatial_api_server_spark.sources import geo_layer

    geo_layer._SCHEMAS.clear()
    df = geo_layer.lineitem_bbox_layer(spark, sf_dir)
    assert df.schema["geometry"].metadata == {"geometry_types": ["Point"]}
    schema, jobs = _jobs_of(spark, "declared_schema", lambda: feature_schema(df))
    assert schema.geometry_type == "Point"
    assert schema.max_record_count == 10000
    assert jobs == []


def test_undeclared_layer_still_probes(spark, sf_dir):
    """A DataFrame whose geometry declares no types (the un-persisted
    point layer) probes one geometry for its type, as before."""
    df = _source_layer(spark, sf_dir)
    assert df.schema["geometry"].metadata == {}
    schema, jobs = _jobs_of(spark, "probed_schema", lambda: feature_schema(df))
    assert schema.geometry_type == "Point"
    assert len(jobs) == 1


def _undeclared(df):
    """`df` with the geometry field's metadata dropped."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        declared_geometry_types,
    )

    out = df.withColumn("geometry", F.col("geometry").cast("binary"))
    assert declared_geometry_types(out) == []
    return out


def test_point_clip_shortcut_matches_clip_udf(layer, points):
    """On a layer declaring ["Point"], clip_features returns the bbox
    pre-filter's rows unchanged, with no Python stage, and the same rows
    and clip values as the clip UDF — also for boxes whose edges pass
    exactly through points, a zero-area box on one point, and a box that
    holds no point."""
    from iceberg_geospatial_api_server_spark.geo.clip import clip_features

    (xa, ya), (xb, yb) = points[0], points[len(points) // 3]
    boxes = [
        (xa, ya, xa + 7.5, ya + 5.0),  # lower-left corner on a point
        (xb - 7.5, yb - 5.0, xb, yb),  # upper-right corner on a point
        (xa - 3.0, ya, xa + 3.0, ya + 2.0),  # lower edge through a point
        (xa, ya, xa, ya),  # the point itself
    ]
    empty = (-180.0, 89.0, -179.0, 89.5)  # north of every point
    cols = ["__oid", "geometry", "clip_area", "clip_xmin", "clip_ymin",
            "clip_xmax", "clip_ymax"]

    def rows(df):
        return [
            (r[0], bytes(r[1]), *r[2:])
            for r in df.select(*cols).orderBy("__oid").collect()
        ]

    for box in [*boxes, empty]:
        fast = clip_features(layer(), box)
        plan = fast._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan, box
        slow = clip_features(_undeclared(layer()), box)
        assert "ArrowEvalPython" in slow._jdf.queryExecution().executedPlan().toString()
        got = rows(fast)
        assert got == rows(slow), box
        want = sum(
            box[0] <= x <= box[2] and box[1] <= y <= box[3] for x, y in points
        )
        assert len(got) == want, box
        assert (want == 0) == (box == empty), box


def test_callers_max_record_count_caps_tiles_and_pages(layer, points):
    """A caller's max_record_count below the layer's own cap applies: a
    tile returns that many features, and a page without resultRecordCount
    returns that many rows and reports exceededTransferLimit."""
    df = layer()
    z, x, y = _tile_of(*points[0], 5)
    assert _in_tile(points, z, x, y) > 3
    payload, _ = api.get_tile(df, z, x, y, out_fields=["l_quantity"],
                              max_record_count=3)
    assert len(decode_tile(payload)[0]["features"]) == 3

    page, _ = api.query_layer(df, {"f": "json"}, max_record_count=5)
    assert [f["attributes"]["__oid"] for f in page["features"]] == list(range(5))
    assert page["exceededTransferLimit"] is True


def test_tile_timestamps_keep_their_instant(spark, new_york_tz):
    """A TIMESTAMP attribute in a tile is written as its UTC wall-clock
    time whatever the serving process's local zone."""
    from iceberg_geospatial_api_server_spark.geo import wkb as W

    df = spark.sql(
        "SELECT 1L AS fid, unhex('{}') AS geometry, "
        "timestamp'2020-03-08 07:30:00.123' AS ts".format(
            W.encode_point(1.0, 2.0).hex()
        )
    )
    tile = decode_tile(serialize_tile(df, 0, 0, 0, out_fields=["ts"], id_col="fid"))
    assert tile[0]["values"] == ["2020-03-08 07:30:00.123000"]

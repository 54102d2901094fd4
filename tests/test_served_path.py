"""The served request path on the persisted lineitem layer: jobs per
request, persisted OIDs, internal columns kept out of the layer's fields,
the page/tile edge cases of the one over-fetched collect, the per-session
layer memo, and the SQL point-in-polygon test of point-only layers."""

import json
import math
import os
import random
import shutil
import tempfile
import time
from urllib.parse import urlparse

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


def _map_requests(points, at: int) -> dict:
    """kind → (params of `api.query_layer`, or (tile, out_fields) of
    `api.get_tile`) for every request kind of the map_session mix, with
    constants (boxes, rings, offset, ids, tiles) drawn around
    `points[at]`."""
    x0, y0 = points[at]
    box = f"{x0 - 30},{y0 - 20},{x0 + 30},{y0 + 20}"
    ring = [[x0 - 20, y0 - 20], [x0 + 20, y0 - 20], [x0 + 20, y0 + 20],
            [x0 - 20, y0 - 20]]
    fields = ["l_linenumber", "l_quantity"]
    return {
        "count_where_polygon": {
            "f": "json", "returnCountOnly": "true", "where": "l_quantity > 5",
            "geometryType": "esriGeometryPolygon",
            "geometry": json.dumps({"rings": [ring]}),
        },
        "page_pbf_bbox": {"f": "pbf", "resultRecordCount": 50, "geometry": box},
        "page_geojson_offset": {
            "f": "geojson", "resultRecordCount": 50, "resultOffset": at,
        },
        "extent_bbox": {"f": "json", "returnExtentOnly": "true", "geometry": box},
        "ids_bbox": {"f": "json", "returnIdsOnly": "true", "geometry": box},
        "page_outsr_bbox": {
            "f": "json", "resultRecordCount": 50, "outSR": "102100",
            "geometry": box,
        },
        "object_ids": {"f": "json", "objectIds": f"3,17,{at},{at + 1}"},
        "tile_z4": (_tile_of(x0, y0, 4), fields),
        "tile_z9": (_tile_of(x0, y0, 9), fields),
        "tile_default_fields": (_tile_of(x0, y0, 6), None),
    }


def _serve(df, req):
    """The payload of one request of `_map_requests`."""
    if isinstance(req, tuple):
        (z, x, y), fields = req
        return api.get_tile(df, z, x, y, out_fields=fields)[0]
    return api.query_layer(df, dict(req))[0]


def test_served_requests_run_one_spark_job(spark, layer, points):
    """Every request kind of the map_session mix — the layer resolved per
    request, as a stateless handler does — runs at most one Spark job: one
    scan collected once. The geometry type comes from the layer's declared
    `geometry_types`, so no probe runs."""
    sc = spark.sparkContext
    for kind, req in _map_requests(points, len(points) // 2).items():
        _serve(layer(), req)  # warm
        group = f"served_jobs_{kind}"
        sc.setJobGroup(group, kind)
        try:
            payload = _serve(layer(), req)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup("served_jobs_done", "")
        assert len(jobs) <= 1, (kind, len(jobs))
        _assert_answered(kind, payload)


def _assert_answered(kind, payload):
    """A `_map_requests` payload of `kind` is not vacuous."""
    if kind.startswith("tile"):
        assert decode_tile(payload)[0]["features"], kind
    elif kind == "page_pbf_bbox":
        assert _pbf_page(payload)[0] > 0
    elif kind in ("count_where_polygon", "extent_bbox"):
        assert payload["count"] > 0, kind
    elif kind == "ids_bbox":
        assert payload["objectIds"] == sorted(payload["objectIds"]) != []
    else:
        assert payload["features"], kind


def test_published_upload_serves_like_the_layer(spark, sf_dir, layer, points, tmp_path):
    """A point GeoParquet upload published by `write_geoparquet` and read
    once by `read_geoparquet` carries persisted __oid and __bbox_*:
    `engine.with_oid` runs no job, a bbox page, a polygon count, ids-only
    and a tile each run at most one, and a polygon page's plan has no
    Python node. The upload and the layer number rows as `with_oid` does
    over `with_bbox` of the source layer."""
    from iceberg_geospatial_api_server_spark.engine import query_features, with_oid
    from iceberg_geospatial_api_server_spark.geo.functions import with_bbox
    from iceberg_geospatial_api_server_spark.sources import ingest

    src = _source_layer(spark, sf_dir).select(
        "geometry", "l_orderkey", "l_linenumber", "l_quantity"
    )
    out = str(tmp_path / "upload.parquet")
    ingest.write_geoparquet(src, out)
    df = ingest.read_geoparquet(spark, out)

    ranked, jobs = _jobs_of(spark, "upload_with_oid", lambda: with_oid(df))
    assert ranked is df and jobs == []
    reqs = _map_requests(points, len(points) // 2)
    for kind in ("page_pbf_bbox", "count_where_polygon", "ids_bbox", "tile_z9"):
        _serve(df, reqs[kind])  # warm
        payload, jobs = _jobs_of(
            spark, f"upload_{kind}", lambda: _serve(df, reqs[kind])
        )
        assert len(jobs) <= 1, (kind, len(jobs))
        _assert_answered(kind, payload)

    polygon = {**reqs["count_where_polygon"], "returnCountOnly": "false"}
    page = query_features(df, api.parse_geoservices_params(polygon))
    assert "ArrowEvalPython" not in page.features._jdf.queryExecution().executedPlan().toString()

    def numbered(frame):
        return sorted(
            tuple(r) for r in frame.select("__oid", "l_orderkey", "l_linenumber").collect()
        )

    want = numbered(with_oid(with_bbox(src)))
    assert numbered(df) == want
    assert numbered(layer()) == want


def _compiles(spark) -> int:
    """Janino compiles the JVM has run so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_served_requests_compile_no_code(spark, layer, points):
    """A second request of each map_session kind, with constants it has not
    seen, adds 0 Janino compiles: served requests evaluate interpreted.
    The same count request on the shared session, which keeps whole-stage
    codegen, does compile, so the counter is live."""
    from iceberg_geospatial_api_server_spark.engine import query_features

    first = _map_requests(points, len(points) // 2)
    second = _map_requests(points, len(points) // 5)
    for kind, req in first.items():
        assert second[kind] != req, kind
        _serve(layer(), req)
        before = _compiles(spark)
        _serve(layer(), second[kind])
        assert _compiles(spark) - before == 0, kind

    qp = api.parse_geoservices_params(first["count_where_polygon"])
    query_features(layer(), qp)
    before = _compiles(spark)
    qp = api.parse_geoservices_params(second["count_where_polygon"])
    assert query_features(layer(), qp).count > 0
    assert _compiles(spark) > before


def test_served_plan_has_no_whole_stage_codegen(spark, layer):
    """The serving session plans a query without WholeStageCodegen; the
    same query on the shared session, whose conf is unchanged, keeps it."""
    from iceberg_geospatial_api_server_spark.session import (
        served,
        serving_session,
    )

    def plan(df):
        """(root node class, plan text); the text marks each codegen stage
        as `*(n)`."""
        q = df.filter(F.col("__bbox_xmin") > 10.0).select("__oid", "l_quantity")
        p = q._jdf.queryExecution().executedPlan()
        return p.getClass().getSimpleName(), p.toString()

    root, text = plan(layer())
    assert root == "WholeStageCodegenExec" and "*(1) Filter" in text
    root, text = plan(served(layer()))
    assert root == "ProjectExec" and "*(" not in text, text
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    serving = serving_session(spark)
    assert serving.conf.get("spark.sql.codegen.wholeStage") == "false"
    assert serving.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN"
    assert serving.sparkContext is spark.sparkContext


def test_served_frame_keeps_declared_types_and_persisted_columns(spark, layer):
    """The re-bound layer declares ["Point"], carries the persisted __oid
    and __bbox_* columns and keeps the layer's DSv2 parquet scan, so
    feature_schema runs no job on it and requests neither rank nor
    decode."""
    from iceberg_geospatial_api_server_spark.session import served

    df = served(layer())
    plan = df.filter(F.col("__bbox_xmin") > 10.0)._jdf.queryExecution()
    assert "BatchScan parquet" in plan.executedPlan().toString()
    assert df.schema == layer().schema
    assert df.schema["geometry"].metadata == {"geometry_types": ["Point"]}
    assert {"__oid", "__bbox_xmin", "__bbox_ymin", "__bbox_xmax",
            "__bbox_ymax"} <= set(df.columns)
    schema, jobs = _jobs_of(spark, "served_schema", lambda: feature_schema(df))
    assert schema.geometry_type == "Point"
    assert jobs == []


def test_served_memo(spark, layer):
    """The same frame re-binds to the same object with no Spark job; a
    served frame is its own re-binding; entries of another (stopped)
    session's applicationId are evicted by the next miss, and a stale entry
    for the frame itself is not returned."""
    from iceberg_geospatial_api_server_spark import session

    first = session.served(layer())
    again, jobs = _jobs_of(spark, "served_memo", lambda: session.served(layer()))
    assert again is first
    assert jobs == []
    assert session.served(first) is first

    other, fresh = layer().select("*"), layer().select("*")
    session._SERVED[other] = ("app-of-a-stopped-session", first)
    session._SERVED[fresh] = ("app-of-a-stopped-session", first)
    got, jobs = _jobs_of(spark, "served_miss", lambda: session.served(fresh))
    assert jobs == []
    assert got is not first
    assert got.sparkSession is session.serving_session(spark)
    assert other not in session._SERVED
    assert session._SERVED[fresh][1] is got


def test_serving_session_memo_evicts_a_stopped_application(spark):
    """A serving session memoized for another applicationId is dropped
    when this application makes its own."""
    from iceberg_geospatial_api_server_spark import session

    live = dict(session._SERVING)
    try:
        session._SERVING.clear()
        session._SERVING["app-of-a-stopped-session"] = spark
        serving = session.serving_session(spark)
        assert list(session._SERVING) == [spark.sparkContext.applicationId]
        assert serving is not spark
        assert session.serving_session(spark) is serving
    finally:
        session._SERVING.clear()
        session._SERVING.update(live)


def test_served_under_concurrent_first_requests(spark, layer):
    """Threads re-binding one new frame at once all get the same re-bound
    frame, made once."""
    import sys
    import threading

    from iceberg_geospatial_api_server_spark import session

    df = layer().select("*")
    got, errors = [], []

    def bind():
        try:
            for _ in range(3):
                got.append(session.served(df))
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=bind) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(got) == 24
    assert all(g is got[0] for g in got)
    assert session._SERVED[df][1] is got[0]


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

    geo_layer._LAYERS.clear()
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


# --- the per-session layer memo -------------------------------------------


def test_layer_re_resolve_is_memoized(spark, layer):
    """Resolving the layer again returns the same DataFrame and runs no
    Spark job."""
    first = layer()
    again, jobs = _jobs_of(spark, "layer_memo", layer)
    assert again is first
    assert jobs == []


def test_layer_memo_misses_on_new_source_or_rebuilt_layer(spark, sf_dir, tmp_path):
    """A regenerated source (new mtime: a new layer path) and a layer
    directory rebuilt at the same path each resolve a fresh DataFrame
    over the same rows; an entry of another (stopped) session's
    applicationId is evicted by the next miss."""
    from iceberg_geospatial_api_server_spark.sources import geo_layer

    src_dir = str(tmp_path / "sf")
    os.makedirs(src_dir)
    src = os.path.join(src_dir, "lineitem.parquet")
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), src)

    def layer_dir(df):
        return os.path.dirname(urlparse(df.inputFiles()[0]).path)

    built = []
    try:
        first = geo_layer.lineitem_bbox_layer(spark, src_dir)
        built.append(layer_dir(first))
        n = first.count()

        st = os.stat(src)
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        regenerated = geo_layer.lineitem_bbox_layer(spark, src_dir)
        built.append(layer_dir(regenerated))
        assert regenerated is not first and built[0] != built[1]
        assert regenerated.count() == n

        live = (spark.sparkContext.applicationId, built[1])
        stale = ("app-of-a-stopped-session", built[1])
        geo_layer._LAYERS[stale] = geo_layer._LAYERS[live]
        shutil.rmtree(built[1])
        rebuilt = geo_layer.lineitem_bbox_layer(spark, src_dir)
        assert rebuilt is not regenerated
        assert layer_dir(rebuilt) == built[1]
        assert rebuilt.count() == n
        assert stale not in geo_layer._LAYERS
        assert geo_layer.lineitem_bbox_layer(spark, src_dir) is rebuilt
    finally:
        for d in built:
            assert d.startswith(tempfile.gettempdir())
            shutil.rmtree(d, ignore_errors=True)


def test_layer_memo_under_concurrent_resolves(spark, sf_dir, layer):
    """Threads resolving the layer at once, from an empty memo holding
    other sessions' entries, all get the layer; the stale entries are
    gone and one live entry remains."""
    import sys
    import threading

    from iceberg_geospatial_api_server_spark.sources import geo_layer

    files = sorted(layer().inputFiles())
    live = (spark.sparkContext.applicationId, os.path.dirname(urlparse(files[0]).path))
    assert live in geo_layer._LAYERS
    for i in range(50):
        geo_layer._LAYERS[(f"stopped-{i}", live[1])] = geo_layer._LAYERS[live]
    del geo_layer._LAYERS[live]
    got, errors = [], []

    def resolve():
        try:
            for _ in range(3):
                got.append(sorted(geo_layer.lineitem_bbox_layer(spark, sf_dir).inputFiles()))
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=resolve) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == [files] * 24
    assert [k for k in geo_layer._LAYERS if k[1] == live[1]] == [live]


# --- polygon filters on a point-only layer, without Python ------------------


_SQUARE = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]
_HOLE = [(3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0), (3.0, 3.0)]
# filter (multi)polygons as lists of polygons (lists of rings): a square
# with a hole, a multipolygon, a triangle with a near-horizontal edge, and
# one on binary-inexact decimals
_PIP_POLYGONS = {
    "holed": [[_SQUARE, _HOLE]],
    "multi": [
        [[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)]],
        [[(2.0, 2.0), (3.0, 2.0), (3.0, 3.0), (2.0, 3.0), (2.0, 2.0)]],
    ],
    "near_horizontal": [[[(0.0, 0.0), (10.0, 1e-12), (5.0, 5.0), (0.0, 0.0)]]],
    "decimals": [[[(0.1, 0.1), (0.7, 0.2), (0.3, 0.9), (0.1, 0.1)]]],
}


def _encode_polys(polys) -> bytes:
    from iceberg_geospatial_api_server_spark.geo import wkb as W

    if len(polys) == 1:
        return W.encode_polygon(polys[0])
    return W.encode_multi(W.MULTIPOLYGON, [W.encode_polygon(p) for p in polys])


def _pip_points(polys, seed: int) -> list[tuple[float, float]]:
    """Every vertex, every edge's midpoint and quarter points, points at
    each vertex's y left and right of it, and random points around the
    polygon's box."""
    verts = [v for rings in polys for ring in rings for v in ring]
    pts = list(verts)
    for rings in polys:
        for ring in rings:
            for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
                for t in (0.25, 0.5, 0.75):
                    pts.append((x0 + t * (x1 - x0), y0 + t * (y1 - y0)))
    xs = [v[0] for v in verts]
    ys = [v[1] for v in verts]
    for x, y in verts:
        pts += [(x - 1.0, y), (x - 0.01, y), (x + 0.01, y), (max(xs) + 1, y)]
    rng = random.Random(seed)
    w, h = max(xs) - min(xs), max(ys) - min(ys)
    for _ in range(300):
        pts.append((rng.uniform(min(xs) - 0.1 * w, max(xs) + 0.1 * w),
                    rng.uniform(min(ys) - 0.1 * h, max(ys) + 0.1 * h)))
    pts += [(5.0, 5e-13), (2.0, 1e-13), (9.0, 0.9e-12), (5.0, 0.0), (5.0, 5.0)]
    return pts


@pytest.mark.parametrize("on_edge", [False, True])
def test_point_in_polygon_sql_matches_udf_kernels(spark, on_edge):
    """The SQL text gives `st_contains_point` (| `st_point_on_edge`)'s
    answer for every point: vertices, points on edges, in and on holes,
    a multipolygon, a near-horizontal edge and points at a vertex's y."""
    from iceberg_geospatial_api_server_spark.geo import functions as G

    for i, (name, polys) in enumerate(_PIP_POLYGONS.items()):
        wkb = _encode_polys(polys)
        pts = spark.createDataFrame(_pip_points(polys, i), "x double, y double")
        sql = G.point_in_polygon_sql(wkb, "x", "y", on_edge=on_edge)
        udf = G.st_contains_point(F.lit(bytearray(wkb)), F.col("x"), F.col("y"))
        if on_edge:
            udf = udf | G.st_point_on_edge(wkb)(F.col("x"), F.col("y"))
        rows = pts.select("x", "y", F.expr(sql).alias("sql"), udf.alias("udf")).collect()
        wrong = [r for r in rows if r["sql"] != r["udf"]]
        assert wrong == [], (name, wrong[:5])
        hits = sum(r["sql"] for r in rows)
        assert 0 < hits < len(rows), name


def test_point_in_polygon_sql_gives_way_on_large_or_infinite_filters():
    """Filters past the edge cap, or whose constants overflow, get None
    (the caller keeps the UDF kernels)."""
    from iceberg_geospatial_api_server_spark.geo import functions as G
    from iceberg_geospatial_api_server_spark.geo import wkb as W

    n = G._PIP_SQL_MAX_EDGES + 1
    ring = [(math.cos(2 * math.pi * k / n), math.sin(2 * math.pi * k / n))
            for k in range(n)]
    assert G.point_in_polygon_sql(W.encode_polygon([ring + ring[:1]]), "x", "y") is None
    assert G.point_in_polygon_sql(
        W.encode_polygon([ring[:-1] + ring[:1]]), "x", "y"
    ) is not None
    huge = [(-1.5e308, 0.0), (1.5e308, 1.0), (0.0, 2.0), (-1.5e308, 0.0)]
    assert G.point_in_polygon_sql(W.encode_polygon([huge]), "x", "y") is None


def _polygon_through_points(points):
    """A concave ring, as an Esri rings JSON string, whose upper right
    vertex is a layer point: on the boundary, and outside by the ray-cast
    (its edges run below and left of it)."""
    x0, y0 = points[len(points) // 2]
    ring = [[x0 - 40, y0 - 30], [x0, y0 - 30], [x0, y0], [x0 - 10, y0],
            [x0 - 10, y0 - 20], [x0 - 40, y0 - 20], [x0 - 40, y0 - 30]]
    return json.dumps({"rings": [ring]})


@pytest.mark.parametrize("rel", ["intersects", "within", "contains"])
def test_polygon_filter_on_point_layer_runs_no_python(spark, sf_dir, layer, points, rel):
    """On the layer declaring ["Point"], a polygon filter runs in SQL: the
    page's plan has no Python node and a count runs one job. Counts and
    ids equal the UDF path's on the undeclared source layer; a boundary
    point intersects but is not within; no point contains a polygon."""
    geom = _polygon_through_points(points)
    base = {"f": "json", "geometryType": "esriGeometryPolygon",
            "geometry": geom, "spatialRel": f"esriSpatialRel{rel.title()}"}
    df = layer()

    from iceberg_geospatial_api_server_spark.api import parse_geoservices_params
    from iceberg_geospatial_api_server_spark.engine import query_features
    from iceberg_geospatial_api_server_spark.geo.functions import (
        declared_geometry_types,
    )

    page = query_features(df, parse_geoservices_params({**base, "resultRecordCount": 5}))
    plan = page.features._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    counted, jobs = _jobs_of(
        spark, f"pip_count_{rel}",
        lambda: api.query_layer(df, {**base, "returnCountOnly": "true"})[0],
    )
    assert len(jobs) <= 1

    ids = api.query_layer(df, {**base, "returnIdsOnly": "true"})[0]["objectIds"]
    # the persisted layer's columns, so with_oid numbers rows alike
    src = _source_layer(spark, sf_dir).select(
        "geometry", "l_orderkey", "l_linenumber", "l_quantity"
    )
    assert declared_geometry_types(src) == []
    want = api.query_layer(src, {**base, "returnIdsOnly": "true"})[0]["objectIds"]
    assert ids == want
    assert counted["count"] == len(want)
    if rel == "contains":
        assert want == []
    else:
        assert want != []


def test_polygon_boundary_points_intersect_but_are_not_within(layer, points):
    """Non-vacuous boundary: a layer point on the polygon's boundary,
    which `intersects` keeps and `within` drops."""
    base = {"f": "json", "returnCountOnly": "true",
            "geometryType": "esriGeometryPolygon",
            "geometry": _polygon_through_points(points)}
    df = layer()
    n = {rel: api.query_layer(df, {**base, "spatialRel": f"esriSpatialRel{rel}"})[0]["count"]
         for rel in ("Intersects", "Within")}
    assert n["Intersects"] > n["Within"] > 0


# --- the served plan in a few py4j calls -----------------------------------


def _round_trips(monkeypatch, fn):
    """(fn's result, the py4j commands this thread sent while it ran).
    The finalizer thread's object releases are not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    me, calls = threading.get_ident(), [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        out = fn()
    return out, calls[0]


def test_served_requests_make_few_py4j_round_trips(monkeypatch, layer, points):
    """A warm request of each map_session kind, with constants it has not
    seen, builds and runs its plan in at most 60 py4j round trips: the
    predicates and projections are SQL text, not one call per column,
    literal and operator."""
    first = _map_requests(points, len(points) // 2)
    second = _map_requests(points, len(points) // 5)
    trips = {}
    for kind, req in first.items():
        _serve(layer(), req)
        payload, trips[kind] = _round_trips(
            monkeypatch, lambda: _serve(layer(), second[kind])
        )
        assert payload, kind
    assert max(trips.values()) <= 60, trips


def _tile_points(z: int, x: int, y: int, buffer_px: int = 64, extent: int = 4096):
    """Points of tile (z, x, y): its corners and edges, points a fraction
    of a pixel inside and outside them, the buffer's outer corners, and
    random points over the buffered tile (negative pixels included)."""
    xmin, ymin, xmax, ymax = tile_bbox(z, x, y)
    bx = (xmax - xmin) * buffer_px / extent
    by = (ymax - ymin) * buffer_px / extent
    px, py = (xmax - xmin) / extent, (ymax - ymin) / extent
    xs = [xmin - bx, xmin - px / 2, xmin, xmin + px / 2, (xmin + xmax) / 2,
          xmax - px / 2, xmax, xmax + px / 2, xmax + bx]
    ys = [ymin - by, ymin - py / 2, ymin, ymin + py / 2, (ymin + ymax) / 2,
          ymax - py / 2, ymax, ymax + py / 2, ymax + by]
    pts = [(a, b) for a in xs for b in ys]
    rng = random.Random(z * 1000 + x)
    pts += [(rng.uniform(xmin - bx, xmax + bx), rng.uniform(ymin - by, ymax + by))
            for _ in range(500)]
    return pts


@pytest.mark.parametrize("tile", [(0, 0, 0), (4, 3, 5), (9, 300, 200), (14, 9000, 7000)])
def test_numpy_point_encode_equals_per_feature_encode(tile):
    """`_point_commands` gives each point the command stream
    `encode_geometry_commands` gives it alone, on tile edges and corners,
    in the buffer (negative pixels and pixels past the extent) and within
    half a pixel of an edge."""
    import numpy as np

    from iceberg_geospatial_api_server_spark.geo import wkb as W
    from iceberg_geospatial_api_server_spark.geo.functions import (
        _decode_uniform_points,
    )
    from iceberg_geospatial_api_server_spark.serializers.mvt import (
        _point_commands,
        encode_geometry_commands,
    )

    z, x, y = tile
    pts = _tile_points(z, x, y)
    bufs = [W.encode_point(a, b) for a, b in pts]
    coords = _decode_uniform_points(bufs)
    assert np.array_equal(coords, np.array(pts))
    got = _point_commands(coords, z, x, y)
    want = [encode_geometry_commands(b, z, x, y) for b in bufs]
    assert [(1, g) for g in got] == want
    # negative pixels zigzag to odd numbers: both axes have some
    pixels = [(p[1], p[2]) for p in got]
    assert any(dx % 2 for dx, _ in pixels) and any(dy % 2 for _, dy in pixels)


def test_point_tile_equals_per_feature_tile(layer, points):
    """A point tile of the layer is byte-identical to the layer built from
    its collected page with every feature encoded on its own."""
    from iceberg_geospatial_api_server_spark.serializers.mvt import (
        build_layer,
        encode_geometry_commands,
    )

    z, x, y = _tile_of(*points[len(points) // 3], 4)
    kw = {"out_fields": ["l_quantity"], "id_col": "l_orderkey"}
    tile = serialize_tile(layer(), z, x, y, **kw)
    feats = decode_tile(tile)[0]["features"]
    assert len(feats) == _in_tile(points, z, x, y) > 10

    xmin, ymin, xmax, ymax = tile_bbox(z, x, y)
    bx, by = (xmax - xmin) * 64 / 4096, (ymax - ymin) * 64 / 4096
    rows = (
        layer().filter(
            (F.col("__bbox_xmin") >= xmin - bx) & (F.col("__bbox_xmin") <= xmax + bx)
            & (F.col("__bbox_ymin") >= ymin - by) & (F.col("__bbox_ymin") <= ymax + by)
        )
        .orderBy("l_orderkey", "__oid")
        .collect()
    )
    want = build_layer(
        "layer",
        [
            (r["l_orderkey"], {"l_quantity": r["l_quantity"]},
             *encode_geometry_commands(bytes(r["geometry"]), z, x, y))
            for r in rows
        ],
    )
    assert tile == want


_ODD_NAMES = ["a.b", "my name", "back`tick"]


def _odd_frame(spark):
    """Points with attribute columns whose names need quoting in SQL."""
    from iceberg_geospatial_api_server_spark.geo import wkb as W

    rows = [
        (bytearray(W.encode_point(-10.0 + i, 5.0 + (i % 4))), i % 5, f"n{i}", i / 4)
        for i in range(24)
    ]
    return spark.createDataFrame(
        rows,
        "geometry binary, `a.b` int, `my name` string, `back``tick` double",
    )


def test_served_path_quotes_column_names(spark):
    """A frame whose column names hold a dot, a space or a backtick serves a
    bbox page, an ids-only request, an objectIds fetch and a tile naming
    those columns (each failed with UNRESOLVED_COLUMN or a parse error)."""
    df = _odd_frame(spark)
    box = "-20,0,-0.5,20"
    page, _ = api.query_layer(df, {"f": "json", "geometry": box})
    got = [f["attributes"] for f in page["features"]]
    assert len(got) == 10
    assert {k for a in got for k in a} == {"__oid", *_ODD_NAMES}
    assert sorted(a["my name"] for a in got) == sorted(f"n{i}" for i in range(10))

    ids, _ = api.query_layer(df, {"f": "json", "geometry": box, "returnIdsOnly": "true"})
    assert ids["objectIds"] == sorted(a["__oid"] for a in got)
    fetched, _ = api.query_layer(
        df, {"f": "json", "objectIds": ",".join(map(str, ids["objectIds"][:3])),
             "outFields": "my name,back`tick"}
    )
    assert [set(f["attributes"]) for f in fetched["features"]] == [
        {"__oid", "my name", "back`tick"}
    ] * 3

    tile = decode_tile(
        serialize_tile(df, 0, 0, 0, out_fields=["my name", "back`tick"], id_col="a.b")
    )[0]
    assert len(tile["features"]) == 24
    assert set(tile["keys"]) == {"my name", "back`tick"}
    assert sorted(f["id"] for f in tile["features"]) == sorted(i % 5 for i in range(24))


def test_capped_tile_is_independent_of_partitioning(spark):
    """A tile cut by max_features over ids that tie keeps the same features,
    byte for byte, whatever the partitioning of the same rows: `__oid`
    breaks the ties."""
    from iceberg_geospatial_api_server_spark.geo import wkb as W
    from iceberg_geospatial_api_server_spark.geo.functions import (
        declare_geometry_types,
    )

    rows = [
        (bytearray(W.encode_point(10.0 + i / 7, 10.0 + (i % 11) / 3)), i // 20, i, i)
        for i in range(120)
    ]
    schema = "geometry binary, fid int, n int, __oid int"
    tiles = []
    for order, parts in ((1, 1), (-1, 1), (1, 3), (-1, 4)):
        df = spark.createDataFrame(rows[::order], schema).repartition(parts)
        for typed in (df, declare_geometry_types(df, ["Point"])):
            tiles.append(
                serialize_tile(typed, 3, 4, 3, out_fields=["n"], id_col="fid",
                               max_features=30)
            )
    assert len(set(tiles)) == 1
    feats = decode_tile(tiles[0])[0]["features"]
    assert len(feats) == 30
    assert sorted(f["id"] for f in feats) == [0] * 20 + [1] * 10


@pytest.mark.parametrize(
    "bounds",
    [("-inf", -90, 0, 90), (-90, "-inf", "inf", 0), ("nan", -90, 90, 90),
     (0, -90, "inf", "inf")],
)
def test_non_finite_bbox_bounds_keep_column_semantics(layer, bounds):
    """A bbox with infinite or NaN bounds (which `parse_esri_geometry`
    accepts) selects the rows the Column predicate over the same doubles
    selects."""
    df = layer()
    xmin, ymin, xmax, ymax = (float(b) for b in bounds)
    want = sorted(
        r[0]
        for r in df.filter(
            (F.col("__bbox_xmax") >= xmin) & (F.col("__bbox_xmin") <= xmax)
            & (F.col("__bbox_ymax") >= ymin) & (F.col("__bbox_ymin") <= ymax)
        )
        .select("__oid")
        .collect()
    )
    got, _ = api.query_layer(
        df, {"f": "json", "returnIdsOnly": "true",
             "geometry": ",".join(map(str, bounds))}
    )
    assert got["objectIds"] == want
    assert (want == []) == ("nan" in bounds)


def test_sql_double_round_trips_every_double(spark):
    """`_sql_double` text parses back to the same double, infinities and
    NaN included, and an empty objectIds list still returns no feature."""
    from iceberg_geospatial_api_server_spark.engine import query_features
    from iceberg_geospatial_api_server_spark.geo.functions import _sql_double
    from iceberg_geospatial_api_server_spark.models import QueryParams

    vals = [0.0, -0.0, 0.1, -1.5e308, 5e-324, 1e22, math.pi,
            float("inf"), float("-inf"), float("nan")]
    got = spark.sql("SELECT " + ", ".join(map(_sql_double, vals))).collect()[0]
    for v, g in zip(vals, got):
        assert isinstance(g, float)
        if math.isnan(v):
            assert math.isnan(g)
        else:
            assert (g, math.copysign(1, g)) == (v, math.copysign(1, v))

    df = _odd_frame(spark)
    res = query_features(df, QueryParams(object_ids=[]))
    assert res.rows == [] and res.count == 0

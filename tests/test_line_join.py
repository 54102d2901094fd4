"""Line-polygon ST_Intersects join semantics."""

import pytest
from pyspark.sql import functions as F

from iceberg_geospatial_api_server_spark.geo import wkb as W
from iceberg_geospatial_api_server_spark.geo.functions import (
    line_polygon_intersect_join,
)


@pytest.fixture(scope="module")
def frames(spark):
    rect = W.encode_polygon([[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]])
    far_rect = W.encode_polygon([[(100, 100), (110, 100), (110, 110), (100, 110), (100, 100)]])
    lines = [
        (1, W.encode_linestring([(2, 2), (5, 5)])),        # inside
        (2, W.encode_linestring([(-5, 5), (15, 5)])),      # crosses through
        (3, W.encode_linestring([(-5, -5), (-1, -1)])),    # outside
        (4, W.encode_linestring([(-5, 20), (20, -5)])),    # cuts the corner
        (5, W.encode_linestring([(11, 0), (20, 10)])),     # near-miss right
    ]
    lines_df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in lines], "line_id int, geometry binary"
    )
    polys_df = spark.createDataFrame(
        [(1, bytearray(rect)), (2, bytearray(far_rect))],
        "poly_id int, geometry binary",
    )
    return lines_df, polys_df


def test_line_polygon_intersections(frames):
    lines_df, polys_df = frames
    out = line_polygon_intersect_join(
        lines_df, polys_df, "geometry", "geometry", res=8.0
    )
    pairs = {(r.line_id, r.poly_id) for r in out.select("line_id", "poly_id").collect()}
    assert pairs == {(1, 1), (2, 1), (4, 1)}


def test_line_join_is_cell_equijoin(frames):
    from iceberg_geospatial_api_server_spark.plans import formatted_plan

    lines_df, polys_df = frames
    plan = formatted_plan(
        line_polygon_intersect_join(lines_df, polys_df, res=8.0)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_line_join_streaming_path_matches_broadcast(frames):
    """broadcast_geoms=False must produce identical pairs with NO driver
    collect of the polygon side (the fact-scale path)."""
    lines_df, polys_df = frames
    out = line_polygon_intersect_join(
        lines_df, polys_df, "geometry", "geometry", res=8.0,
        broadcast_geoms=False,
    )
    pairs = {(r.line_id, r.poly_id) for r in out.select("line_id", "poly_id").collect()}
    assert pairs == {(1, 1), (2, 1), (4, 1)}


def test_default_st_bbox_stays_deterministic():
    """The single-evaluation bbox kernel is its own UDF: marking it
    nondeterministic leaves the default st_bbox deterministic, so filters
    still push past its projection."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        _st_bbox_single_eval,
        st_bbox,
    )

    assert st_bbox._unwrapped.deterministic is True
    assert _st_bbox_single_eval._unwrapped.deterministic is False
    assert _st_bbox_single_eval._unwrapped is not st_bbox._unwrapped

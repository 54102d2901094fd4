"""Viewport clipping — Sutherland–Hodgman polygon clip and Liang–Barsky
line clip against an axis-aligned bbox.

Map servers clip features to the request/tile envelope before
serialization (the reference's FeatureServer clients pass a bbox with
every tile request; pairing the engine's bbox FILTER with a geometry CLIP
is what a tile endpoint needs to avoid shipping world-sized polygons for
a city-sized viewport). Both algorithms are textbook-public
(Sutherland & Hodgman 1974; Liang & Barsky 1984).

Spark shape: clipping runs inside the same Arrow-batched pandas UDF stage
as the WKB decode — pure per-row numpy with no shuffle; the bbox
pre-filter (plain JVM arithmetic on __bbox_* columns) runs FIRST so the
Python stage only ever sees candidate rows, mirroring the engine's
decode-after-prefilter design (ref engine.py:232-279).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    StructField,
    StructType,
)

from iceberg_geospatial_api_server_spark.geo import wkb as W
from iceberg_geospatial_api_server_spark.util import sql_name

__all__ = [
    "clip_ring",
    "clip_polyline",
    "clip_wkb",
    "clip_features",
]


def clip_ring(ring: np.ndarray, bbox: tuple[float, float, float, float]) -> np.ndarray:
    """Sutherland–Hodgman: clip one closed ring against an axis-aligned
    bbox. ``ring`` is (n, 2), closed or open; returns a CLOSED (m, 2)
    ring (first == last) or an empty (0, 2) array.

    Vectorized per edge pass: for each of the 4 half-planes, the
    inside/outside classification and the intersection parameters for
    the whole vertex array are computed with numpy, and the output ring
    is assembled in order.
    """
    xmin, ymin, xmax, ymax = bbox
    pts = np.asarray(ring, dtype=np.float64)
    if len(pts) and (pts[0] == pts[-1]).all():
        pts = pts[:-1]
    # (axis, sign, bound): keep axis*sign <= bound*sign
    for axis, keep_ge, bound in (
        (0, True, xmin),
        (0, False, xmax),
        (1, True, ymin),
        (1, False, ymax),
    ):
        n = len(pts)
        if n == 0:
            break
        cur = pts
        nxt = np.roll(pts, -1, axis=0)
        if keep_ge:
            ins_c = cur[:, axis] >= bound
            ins_n = nxt[:, axis] >= bound
        else:
            ins_c = cur[:, axis] <= bound
            ins_n = nxt[:, axis] <= bound
        out: list[np.ndarray] = []
        denom = nxt[:, axis] - cur[:, axis]
        # parameter of the crossing on each edge (guard 0/0: parallel
        # edges never classify as crossing)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(denom != 0.0, (bound - cur[:, axis]) / denom, 0.0)
        cross = cur + t[:, None] * (nxt - cur)
        cross[:, axis] = bound  # exact, kills FP residue on the clip line
        for i in range(n):
            if ins_c[i]:
                out.append(cur[i])
                if not ins_n[i]:
                    out.append(cross[i])
            elif ins_n[i]:
                out.append(cross[i])
        pts = np.array(out, dtype=np.float64) if out else np.empty((0, 2))
    if len(pts) < 3:
        return np.empty((0, 2))
    # drop degenerate output (boundary-touch slivers collapse to a
    # collinear ring): for axis-degenerate rings the shoelace telescopes
    # to an EXACT float zero, so the == 0 test is deterministic
    xs, ys = pts[:, 0], pts[:, 1]
    xn, yn = np.roll(xs, -1), np.roll(ys, -1)
    if float(np.sum(xs * yn - xn * ys)) == 0.0:
        return np.empty((0, 2))
    return np.vstack([pts, pts[:1]])


def clip_polyline(
    coords: np.ndarray, bbox: tuple[float, float, float, float]
) -> list[np.ndarray]:
    """Liang–Barsky segment clip: returns the list of clipped sub-paths
    (a polyline can exit and re-enter the box)."""
    xmin, ymin, xmax, ymax = bbox
    pts = np.asarray(coords, dtype=np.float64)
    paths: list[list[np.ndarray]] = []
    cur: list[np.ndarray] = []
    for i in range(len(pts) - 1):
        p, q = pts[i], pts[i + 1]
        d = q - p
        t0, t1 = 0.0, 1.0
        ok = True
        for pi, qi in (
            (-d[0], p[0] - xmin),
            (d[0], xmax - p[0]),
            (-d[1], p[1] - ymin),
            (d[1], ymax - p[1]),
        ):
            if pi == 0.0:
                if qi < 0.0:
                    ok = False
                    break
                continue
            r = qi / pi
            if pi < 0.0:
                if r > t1:
                    ok = False
                    break
                t0 = max(t0, r)
            else:
                if r < t0:
                    ok = False
                    break
                t1 = min(t1, r)
        if not ok:
            if len(cur) > 1:
                paths.append(cur)
            cur = []
            continue
        a = p + t0 * d
        b = p + t1 * d
        if np.array_equal(a, b):
            # single-point graze (t0 == t1): a zero-length sub-path is
            # not a line — contribute nothing; a later segment re-opens
            # the path only if it genuinely continues from cur[-1]
            # (ADVICE r4)
            continue
        if not cur or not np.array_equal(cur[-1], a):
            if len(cur) > 1:
                paths.append(cur)
            cur = [a]
        cur.append(b)
    if len(cur) > 1:
        paths.append(cur)
    return [np.array(p) for p in paths]


def clip_wkb(buf: bytes, bbox: tuple[float, float, float, float]) -> bytes | None:
    """Clip any supported WKB geometry to ``bbox``; None when the result
    is empty. Points pass/drop; lines → (multi)linestring of clipped
    sub-paths; polygons → SH-clipped rings (holes clipped independently;
    a hole that vanishes is dropped, outer rings that vanish drop the
    polygon)."""
    kind, parts = _decode_parts(buf)
    if kind == "point":
        xmin, ymin, xmax, ymax = bbox
        pts = parts[0]
        keep = pts[
            (pts[:, 0] >= xmin)
            & (pts[:, 0] <= xmax)
            & (pts[:, 1] >= ymin)
            & (pts[:, 1] <= ymax)
        ]
        if len(keep) == 0:
            return None
        if len(keep) == len(pts):
            return buf
        if len(keep) == 1 and len(pts) == 1:
            return buf
        return W.encode_multipoint(keep)
    if kind == "line":
        out = []
        for path in parts:
            out.extend(clip_polyline(path, bbox))
        if not out:
            return None
        if len(out) == 1:
            return W.encode_linestring(out[0])
        return W.encode_multi(5, [W.encode_linestring(p) for p in out])
    # polygon(s): parts is a list of polygons, each a list of rings
    polys = []
    for rings in parts:
        outer = clip_ring(rings[0], bbox)
        if len(outer) == 0:
            continue
        new_rings = [outer]
        for hole in rings[1:]:
            h = clip_ring(hole, bbox)
            if len(h):
                new_rings.append(h)
        polys.append(new_rings)
    if not polys:
        return None
    if len(polys) == 1:
        return W.encode_polygon(polys[0])
    return W.encode_multi(6, [W.encode_polygon(r) for r in polys])


def _decode_parts(buf: bytes):
    """Normalize decode() output to (kind, parts).

    Deliberately NOT functions._geom_parts: the clip kernels need holes
    grouped WITH their polygon (parts = list of polygons, each a list
    of rings) and multipoints as one (n,2) array, where _geom_parts
    flattens rings across polygons and splits points. Keep the two in
    sync on any codec change (EWKB flags, Z coords)."""
    base, geom = W.decode(buf)
    if base == 1:
        return "point", [np.array([geom], dtype=np.float64)]
    if base == 2:
        return "line", [np.asarray(geom, dtype=np.float64)]
    if base == 3:
        return "poly", [[np.asarray(r, dtype=np.float64) for r in geom]]
    if base == 4:
        return "point", [np.asarray(geom, dtype=np.float64)]
    if base == 5:
        return "line", [np.asarray(p, dtype=np.float64) for p in geom]
    if base == 6:
        return "poly", [
            [np.asarray(r, dtype=np.float64) for r in poly] for poly in geom
        ]
    raise ValueError(f"unsupported geometry type {base}")


_CLIP_SCHEMA = StructType(
    [
        StructField("geometry", BinaryType()),
        StructField("clip_area", DoubleType()),
        StructField("clip_xmin", DoubleType()),
        StructField("clip_ymin", DoubleType()),
        StructField("clip_xmax", DoubleType()),
        StructField("clip_ymax", DoubleType()),
    ]
)


def _clip_axis_rects_np(geoms: pd.Series, bbox) -> "pd.DataFrame | None":
    """Vectorized fast path when the WHOLE Arrow batch is uniform
    axis-rect polygons (the parcel/bbox-feature case, and what the rect
    feature layers ship): bulk-reinterpret decode, numpy clamp, bulk rect
    re-encode — no per-row Python. Falls back (None) on any other
    geometry. Results agree with the general kernel: the clipped COORDS
    are the identical clamped doubles (vertex start/order in the encoded
    ring may differ — same polygon), zero-area overlaps drop on both
    paths, and clip_area is the width×height product, equal to the
    general path's shoelace within one double ulp (any grid-rounded
    consumer sees identical values)."""
    from iceberg_geospatial_api_server_spark.geo.functions import (
        _decode_uniform_single_ring_polygons,
    )

    coords = _decode_uniform_single_ring_polygons(list(geoms))
    if coords is None or coords.shape[1] != 5:
        return None
    dx = np.diff(coords[:, :, 0], axis=1)
    dy = np.diff(coords[:, :, 1], axis=1)
    horiz = (dy == 0.0) & (dx != 0.0)
    vert = (dx == 0.0) & (dy != 0.0)
    closed = (coords[:, 0] == coords[:, 4]).all(axis=1)
    # edges must ALTERNATE h/v: an h,h,v,v "bowtie" ring passes the
    # axis-parallel + closed test but self-intersects with true area 0
    # (the general kernel drops it via shoelace == 0) — closure + 4
    # alternating axis edges ⇒ a proper rectangle (ADVICE r4)
    alternating = (horiz[:, :-1] != horiz[:, 1:]).all(axis=1)
    if not ((horiz | vert).all(axis=1) & closed & alternating).all():
        return None
    xmin, ymin, xmax, ymax = bbox
    rxmin = coords[:, :, 0].min(axis=1)
    rxmax = coords[:, :, 0].max(axis=1)
    rymin = coords[:, :, 1].min(axis=1)
    rymax = coords[:, :, 1].max(axis=1)
    cxmin = np.maximum(rxmin, xmin)
    cxmax = np.minimum(rxmax, xmax)
    cymin = np.maximum(rymin, ymin)
    cymax = np.minimum(rymax, ymax)
    ok = (cxmax > cxmin) & (cymax > cymin)
    n = len(coords)
    geometry: list = [None] * n
    if ok.any():
        enc = W.rects_to_wkb_np(cxmin[ok], cymin[ok], cxmax[ok], cymax[ok])
        for slot, buf in zip(np.nonzero(ok)[0], enc):
            geometry[slot] = buf
    area = (cxmax - cxmin) * (cymax - cymin)
    return pd.DataFrame(
        {
            "geometry": geometry,
            "clip_area": np.where(ok, area, np.nan),
            "clip_xmin": np.where(ok, cxmin, np.nan),
            "clip_ymin": np.where(ok, cymin, np.nan),
            "clip_xmax": np.where(ok, cxmax, np.nan),
            "clip_ymax": np.where(ok, cymax, np.nan),
        }
    )


def clip_features(
    df: DataFrame,
    bbox: tuple[float, float, float, float],
    geom_col: str = "geometry",
) -> DataFrame:
    """Clip every feature to the viewport bbox, dropping features that
    fall entirely outside. Appends clip_area + clipped bounds.

    Plan: the JVM bbox pre-filter on __bbox_* columns runs before the
    Arrow-batched clip UDF, so Python sees only intersecting candidates;
    no shuffle anywhere. Persisted __bbox_* columns are used as they are,
    so the envelope reaches the parquet scan as pushed filters; otherwise
    they are decoded from the WKB. The plan is built from SQL text: the
    pre-filter (`functions.bbox_intersects`) is one filter and the output
    columns one `selectExpr`, a few py4j calls whatever the column count.

    A geometry column that declares `["Point"]` in its field metadata
    (`functions.declared_geometry_types`) runs no clip UDF: the inclusive
    envelope pre-filter is already the exact clip of a single point
    (`clip_wkb` keeps it iff it lies in the closed box, and NaN or NULL
    envelopes fail the filter), so the candidates with a geometry come
    back unchanged with clip_area 0 and clip bounds equal to their
    envelope: one filter and one `selectExpr` over the scan.
    """
    from iceberg_geospatial_api_server_spark.geo.functions import (
        BBOX_COLS,
        bbox_intersects,
        declared_geometry_types,
        with_bbox,
    )

    @F.pandas_udf(_CLIP_SCHEMA)
    def _clip(geoms: pd.Series) -> pd.DataFrame:
        fast = _clip_axis_rects_np(geoms, bbox)
        if fast is not None:
            return fast
        out = {k: [] for k in ("geometry", "clip_area", "clip_xmin",
                               "clip_ymin", "clip_xmax", "clip_ymax")}
        for buf in geoms:
            res = clip_wkb(bytes(buf), bbox) if buf is not None else None
            if res is None:
                out["geometry"].append(None)
                for k in list(out)[1:]:
                    out[k].append(None)
                continue
            bx = W.bbox(res)
            out["geometry"].append(res)
            out["clip_area"].append(W.area(res))
            out["clip_xmin"].append(bx[0])
            out["clip_ymin"].append(bx[1])
            out["clip_xmax"].append(bx[2])
            out["clip_ymax"].append(bx[3])
        return pd.DataFrame(out)

    boxed = df if "__bbox_xmin" in df.columns else with_bbox(df, geom_col)
    pre = bbox_intersects(*bbox)
    geom = sql_name(geom_col)
    bounds = ("clip_xmin", "clip_ymin", "clip_xmax", "clip_ymax")
    if declared_geometry_types(df, geom_col) == ["Point"]:
        clipped = boxed.filter(f"({pre}) AND {geom} IS NOT NULL")
        made = {"clip_area": "0.0D", **dict(zip(bounds, BBOX_COLS))}
    else:
        clipped = (
            boxed.filter(pre)
            .withColumn("__clip", _clip(F.col(geom)))
            .filter("__clip.geometry IS NOT NULL")
        )
        made = {geom_col: "__clip.geometry"}
        made.update((k, f"__clip.{k}") for k in ("clip_area", *bounds))
    # df's columns in place (the geometry and any clip_* replaced), the
    # new clip_* appended, the envelope dropped
    names = [c for c in df.columns if c not in BBOX_COLS]
    names += [k for k in made if k not in names]
    return clipped.selectExpr(
        *(f"{made[c]} AS {sql_name(c)}" if c in made else sql_name(c) for c in names)
    )

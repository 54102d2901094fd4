"""Mapbox Vector Tile (MVT) writer — the tile wire format deck.gl's
MVTLayer and every slippy-map client consume (public spec:
github.com/mapbox/vector-tile-spec 2.1, vector_tile.proto).

From-scratch protobuf wire writer reusing the varint/zigzag/tag
primitives of serializers/esri_pbf.py — no protobuf dependency. Encodes
Tile → Layer(version=2, name, extent) → Feature(id, tags, type,
geometry) with the spec's command stream (MoveTo/LineTo/ClosePath,
zigzag-delta ints in tile-local coords), layer-level key/value tables,
and v2 winding rules (exterior rings clockwise in screen coords).

Per-request shape: the viewport clip to the buffered tile bbox runs in
one Arrow-batched kernel over the candidate rows the bbox pre-filter
selects (pushed into the scan when the layer persists __bbox_*; a layer
declaring only points needs no kernel); the BOUNDED clipped page (a
tile's feature count is capped exactly like a FeatureServer page) is
collected once, and the driver encodes the command streams (a page of
points in one numpy pass) and assembles the layer with its key/value
tables. `render_tiles` pre-renders every tile of a zoom in one distributed pass.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_geospatial_api_server_spark.geo import wkb as W
from iceberg_geospatial_api_server_spark.models import collect_rows
from iceberg_geospatial_api_server_spark.serializers.esri_pbf import (
    ld,
    packed_varints,
    tag,
    varint,
    vi,
    zigzag,
    _LEN,
    _VARINT,
)
from iceberg_geospatial_api_server_spark.util import sql_name

MVT_POINT, MVT_LINESTRING, MVT_POLYGON = 1, 2, 3

__all__ = [
    "tile_bbox",
    "encode_geometry_commands",
    "encode_value",
    "build_layer",
    "serialize_tile",
    "decode_tile",
]


def tile_bbox(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """Lon/lat bounds of XYZ tile (z, x, y) — inverse of the slippy
    formula."""
    n = 2.0**z

    def lat(yt: float) -> float:
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * yt / n))))

    return (x / n * 360.0 - 180.0, lat(y + 1), (x + 1) / n * 360.0 - 180.0, lat(y))


def _to_tile_px(coords: np.ndarray, z: int, x: int, y: int, extent: int) -> np.ndarray:
    """Lon/lat → integer tile-local pixel coords (y down)."""
    lon = coords[:, 0]
    lat = np.radians(coords[:, 1])
    n = float(1 << z)
    wx = (lon + 180.0) / 360.0 * n - x
    wy = (1.0 - np.log(np.tan(lat) + 1.0 / np.cos(lat)) / math.pi) / 2.0 * n - y
    px = np.floor(wx * extent + 0.5).astype(np.int64)
    py = np.floor(wy * extent + 0.5).astype(np.int64)
    return np.stack([px, py], axis=1)


def _dedup_consecutive(q: np.ndarray) -> np.ndarray:
    if len(q) < 2:
        return q
    keep = np.ones(len(q), dtype=bool)
    keep[1:] = (q[1:] != q[:-1]).any(axis=1)
    return q[keep]


def _cmd(cmd_id: int, count: int) -> int:
    return (cmd_id & 0x7) | (count << 3)


def _surveyor_area2(ring: np.ndarray) -> int:
    """Twice the signed area by the surveyor's formula in tile coords —
    the spec's orientation test (2.1 §4.3.3.3): POSITIVE ⇒ exterior
    ring (which reads as clockwise on a y-down screen), negative ⇒
    interior. No sign flip: the formula is applied to the tile-grid
    coordinates exactly as the spec states."""
    xs, ys = ring[:, 0], ring[:, 1]
    xn, yn = np.roll(xs, -1), np.roll(ys, -1)
    return int(np.sum(xs * yn - xn * ys))


def _emit_moveline(parts: list[np.ndarray], cursor: list[int]) -> list[int]:
    geom: list[int] = []
    for part in parts:
        geom.append(_cmd(1, 1))
        dx = int(part[0, 0]) - cursor[0]
        dy = int(part[0, 1]) - cursor[1]
        geom += [zigzag(dx), zigzag(dy)]
        cursor[0], cursor[1] = int(part[0, 0]), int(part[0, 1])
        rest = part[1:]
        geom.append(_cmd(2, len(rest)))
        for px, py in rest:
            geom += [zigzag(int(px) - cursor[0]), zigzag(int(py) - cursor[1])]
            cursor[0], cursor[1] = int(px), int(py)
    return geom


def encode_geometry_commands(
    buf: bytes, z: int, x: int, y: int, extent: int = 4096
) -> tuple[int, list[int]] | None:
    """WKB → (geom_type, MVT command stream) in tile (z, x, y) local
    coords. None when the geometry collapses below representability at
    this zoom (zero-length line, degenerate ring). Winding follows spec
    v2: exterior rings clockwise in screen coords, holes opposite."""
    from iceberg_geospatial_api_server_spark.geo.clip import _decode_parts

    kind, parts = _decode_parts(buf)
    if kind == "point":
        q = _to_tile_px(parts[0], z, x, y, extent)
        q = np.unique(q, axis=0)
        geom = [_cmd(1, len(q))]
        cx = cy = 0
        for px, py in q:
            geom += [zigzag(int(px) - cx), zigzag(int(py) - cy)]
            cx, cy = int(px), int(py)
        return MVT_POINT, geom
    if kind == "line":
        keep = []
        for path in parts:
            q = _dedup_consecutive(_to_tile_px(path, z, x, y, extent))
            if len(q) >= 2:
                keep.append(q)
        if not keep:
            return None
        return MVT_LINESTRING, _emit_moveline(keep, [0, 0])
    # polygons
    geom: list[int] = []
    cursor = [0, 0]
    emitted = False
    for rings in parts:
        for i, ring in enumerate(rings):
            q = _to_tile_px(ring, z, x, y, extent)
            if len(q) and (q[0] == q[-1]).all():
                q = q[:-1]
            q = _dedup_consecutive(q)
            if len(q) < 3:
                if i == 0:
                    break  # degenerate exterior: drop whole polygon
                continue
            a2 = _surveyor_area2(q)
            if a2 == 0:
                if i == 0:
                    break
                continue
            # v2 winding: exterior = positive surveyor area, holes negative
            want_positive = i == 0
            if (a2 > 0) != want_positive:
                q = q[::-1]
            geom.append(_cmd(1, 1))
            geom += [
                zigzag(int(q[0, 0]) - cursor[0]),
                zigzag(int(q[0, 1]) - cursor[1]),
            ]
            cursor[0], cursor[1] = int(q[0, 0]), int(q[0, 1])
            geom.append(_cmd(2, len(q) - 1))
            for px, py in q[1:]:
                geom += [zigzag(int(px) - cursor[0]), zigzag(int(py) - cursor[1])]
                cursor[0], cursor[1] = int(px), int(py)
            geom.append(_cmd(7, 1))
            emitted = True
    if not emitted:
        return None
    return MVT_POLYGON, geom


def encode_value(v) -> bytes:
    """A vector_tile.Value message for one attribute value. A zone-aware
    datetime (a collected TIMESTAMP) is written as its UTC wall-clock
    time, whatever the serving process's local zone."""
    if isinstance(v, (bool, np.bool_)):
        return tag(7, _VARINT) + varint(1 if v else 0)
    if isinstance(v, (int, np.integer)):
        iv = int(v)
        if iv >= 0:
            return tag(4, _VARINT) + varint(iv)
        return tag(6, _VARINT) + varint(zigzag(iv))
    if isinstance(v, (float, np.floating)):
        import struct

        return tag(3, 1) + struct.pack("<d", float(v))
    if isinstance(v, datetime) and v.tzinfo is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    s = str(v).encode("utf-8")
    return tag(1, _LEN) + varint(len(s)) + s


def build_layer(
    name: str,
    features: list[tuple[int | None, dict, int, list[int]]],
    extent: int = 4096,
) -> bytes:
    """Assemble one Layer message from (id, attrs, geom_type, commands)
    tuples, deduplicating keys and values into the layer tables."""
    keys: list[str] = []
    key_idx: dict[str, int] = {}
    vals: list[bytes] = []
    val_idx: dict[bytes, int] = {}
    feats: list[bytes] = []
    for fid, attrs, gtype, commands in features:
        tags: list[int] = []
        for k, v in attrs.items():
            if v is None:
                continue
            if k not in key_idx:
                key_idx[k] = len(keys)
                keys.append(k)
            enc = encode_value(v)
            if enc not in val_idx:
                val_idx[enc] = len(vals)
                vals.append(enc)
            tags += [key_idx[k], val_idx[enc]]
        body = b""
        if fid is not None:
            body += vi(1, int(fid))
        body += packed_varints(2, tags)
        body += vi(3, gtype)
        body += packed_varints(4, commands)
        feats.append(ld(2, body))
    layer = vi(15, 2)  # version
    nm = name.encode("utf-8")
    layer += tag(1, _LEN) + varint(len(nm)) + nm
    layer += b"".join(feats)
    layer += b"".join(tag(3, _LEN) + varint(len(k.encode())) + k.encode() for k in keys)
    layer += b"".join(ld(4, v) for v in vals)
    layer += vi(5, extent)
    return ld(3, layer)


def _point_commands(
    coords: np.ndarray, z: int, x: int, y: int, extent: int = 4096
) -> list[list[int]]:
    """The command stream of each single point of (n, 2) `coords`:
    `[MoveTo(1), zigzag(px), zigzag(py)]`, what `encode_geometry_commands`
    gives a POINT, with the pixel math and the zigzag run over all points
    in one numpy pass."""
    q = _to_tile_px(coords, z, x, y, extent)
    zz = (q << 1) ^ (q >> 63)
    return np.column_stack([np.full(len(q), _cmd(1, 1)), zz]).tolist()


_GEOM_FRAGMENT_SCHEMA = T.StructType(
    [
        T.StructField("geom_type", T.IntegerType()),
        T.StructField("commands", T.ArrayType(T.LongType())),
    ]
)


def _encoded_page(
    clipped: DataFrame,
    z: int,
    x: int,
    y: int,
    extent: int,
    page_order: list,
    cols: list[str],
    fields: list[str],
    id_col: str | None,
    geom_col: str,
    max_features: int,
) -> list[tuple[int | None, dict, int, list[int]]]:
    """The tile's first `max_features` representable features in page
    order, with command streams encoded by an Arrow-batched kernel ahead
    of the limit."""

    @F.pandas_udf(_GEOM_FRAGMENT_SCHEMA)
    def _encode(geoms: pd.Series) -> pd.DataFrame:
        encs = [
            None if b is None else encode_geometry_commands(bytes(b), z, x, y, extent)
            for b in geoms
        ]
        return pd.DataFrame(
            {
                "geom_type": [None if e is None else e[0] for e in encs],
                "commands": [None if e is None else e[1] for e in encs],
            }
        )

    page = collect_rows(
        clipped.withColumn("__mvt", _encode(F.col(sql_name(geom_col))))
        .filter("__mvt.geom_type IS NOT NULL")
        .orderBy(*page_order)
        .selectExpr(*map(sql_name, cols), "__mvt.geom_type", "__mvt.commands")
        .limit(max_features)
    )
    return [
        (
            r[id_col] if id_col else None,
            {c: r[c] for c in fields},
            r["geom_type"],
            list(r["commands"]),
        )
        for r in page
    ]


def serialize_tile(
    df: DataFrame,
    z: int,
    x: int,
    y: int,
    layer_name: str = "layer",
    out_fields: list[str] | None = None,
    id_col: str | None = None,
    geom_col: str = "geometry",
    extent: int = 4096,
    buffer_px: int = 64,
    max_features: int = 10000,
) -> bytes:
    """One XYZ tile from a feature DataFrame: JVM bbox pre-filter →
    distributed clip to the buffered tile envelope → one collect of the
    page → driver-side command-stream encode into a Layer (a second,
    in-plan encode only when collapsed geometries short a full page).
    Returns the serialized Tile bytes (b'' when the tile is empty).

    The page is ordered by `id_col` (else by the geometry's md5), then by
    `__oid` when the frame carries it, so the features a `max_features`
    cap keeps never depend on partitioning; its plan is a few py4j calls
    of SQL text with quoted column names. A page of 2D little-endian
    points (`geo.functions._decode_uniform_points`) is encoded in one
    numpy pass (`_point_commands`); any other page feature by feature
    (`encode_geometry_commands`)."""
    from iceberg_geospatial_api_server_spark.geo.clip import clip_features
    from iceberg_geospatial_api_server_spark.geo.functions import (
        _decode_uniform_points,
    )

    xmin, ymin, xmax, ymax = tile_bbox(z, x, y)
    bx = (xmax - xmin) * buffer_px / extent
    by = (ymax - ymin) * buffer_px / extent
    clipped = clip_features(
        df, (xmin - bx, ymin - by, xmax + bx, ymax + by), geom_col=geom_col
    )

    fields = list(out_fields or [])
    cols = [id_col] + fields if id_col and id_col not in fields else fields
    # deterministic page: a total order before the limit (the engine's
    # __oid page convention) — otherwise a tile that overflows
    # max_features keeps a task-order-dependent subset
    page_order = [
        sql_name(id_col) if id_col else F.expr(f"md5({sql_name(geom_col)})")
    ]
    if "__oid" in df.columns:
        page_order.append("__oid")
    page = collect_rows(
        clipped.orderBy(*page_order)
        .selectExpr(*map(sql_name, dict.fromkeys([*cols, geom_col])))
        .limit(max_features)
    )
    pts = _decode_uniform_points([r[geom_col] for r in page])
    if pts is not None:
        encoded = [(MVT_POINT, c) for c in _point_commands(pts, z, x, y, extent)]
    else:
        encoded = [
            None if r[geom_col] is None
            else encode_geometry_commands(bytes(r[geom_col]), z, x, y, extent)
            for r in page
        ]
    features = [
        (r[id_col] if id_col else None, {c: r[c] for c in fields}, *enc)
        for r, enc in zip(page, encoded)
        if enc is not None
    ]
    if len(page) == max_features > len(features):
        # geometries of a full page collapsed below representability at
        # this zoom, so features past the cap may belong in the tile: one
        # more collect encodes in the plan and drops the collapsed ones
        # before the limit (never for point layers, which always encode)
        features = _encoded_page(
            clipped, z, x, y, extent, page_order, cols, fields, id_col,
            geom_col, max_features,
        )
    if not features:
        return b""
    return build_layer(layer_name, features, extent)


# ---------------------------------------------------------------------------
# test-side decoder (round-trip verification only)
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = out = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def decode_tile(buf: bytes) -> list[dict]:
    """Minimal MVT reader: layers with keys/values/features and decoded
    command streams → absolute coords."""
    layers = []
    i = 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        field, wire = key >> 3, key & 0x7
        assert field == 3 and wire == 2
        ln, i = _read_varint(buf, i)
        layers.append(_decode_layer(buf[i : i + ln]))
        i += ln
    return layers


def _decode_layer(buf: bytes) -> dict:
    import struct

    out = {"keys": [], "values": [], "features": [], "name": None, "extent": 4096}
    i = 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        field, wire = key >> 3, key & 0x7
        if wire == 2:
            ln, i = _read_varint(buf, i)
            body = buf[i : i + ln]
            i += ln
            if field == 1:
                out["name"] = body.decode()
            elif field == 3:
                out["keys"].append(body.decode())
            elif field == 4:
                out["values"].append(_decode_value(body))
            elif field == 2:
                out["features"].append(_decode_feature(body))
        else:
            v, i = _read_varint(buf, i)
            if field == 15:
                out["version"] = v
            elif field == 5:
                out["extent"] = v
    return out


def _decode_value(buf: bytes):
    import struct

    key, i = _read_varint(buf, 0)
    field, wire = key >> 3, key & 0x7
    if field == 1:
        ln, i = _read_varint(buf, i)
        return buf[i : i + ln].decode()
    if field == 3:
        return struct.unpack("<d", buf[i : i + 8])[0]
    v, i = _read_varint(buf, i)
    if field == 4:
        return v
    if field == 6:
        return _unzigzag(v)
    if field == 7:
        return bool(v)
    raise ValueError(f"value field {field}")


def _decode_feature(buf: bytes) -> dict:
    out = {"id": None, "tags": [], "type": None, "paths": []}
    i = 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        field, wire = key >> 3, key & 0x7
        if field == 1:
            out["id"], i = _read_varint(buf, i)
        elif field == 2:
            ln, i = _read_varint(buf, i)
            end = i + ln
            while i < end:
                v, i = _read_varint(buf, i)
                out["tags"].append(v)
        elif field == 3:
            out["type"], i = _read_varint(buf, i)
        elif field == 4:
            ln, i = _read_varint(buf, i)
            end = i + ln
            cmds = []
            while i < end:
                v, i = _read_varint(buf, i)
                cmds.append(v)
            out["paths"] = _decode_commands(cmds)
    return out


def _decode_commands(cmds: list[int]) -> list[list[tuple[int, int]]]:
    paths: list[list[tuple[int, int]]] = []
    cur: list[tuple[int, int]] = []
    cx = cy = 0
    i = 0
    while i < len(cmds):
        cmd_id = cmds[i] & 0x7
        count = cmds[i] >> 3
        i += 1
        if cmd_id == 1:
            for _ in range(count):
                cx += _unzigzag(cmds[i])
                cy += _unzigzag(cmds[i + 1])
                i += 2
                if cur:
                    paths.append(cur)
                cur = [(cx, cy)]
        elif cmd_id == 2:
            for _ in range(count):
                cx += _unzigzag(cmds[i])
                cy += _unzigzag(cmds[i + 1])
                i += 2
                cur.append((cx, cy))
        elif cmd_id == 7:
            cur.append(cur[0])
    if cur:
        paths.append(cur)
    return paths


_TILE_ROW_SCHEMA = T.StructType(
    [
        T.StructField("zoom", T.IntegerType()),
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
        T.StructField("n_features", T.IntegerType()),
        T.StructField("mvt", T.BinaryType()),
    ]
)


def render_tiles(
    df: DataFrame,
    z: int,
    layer_name: str = "layer",
    out_fields: list[str] | None = None,
    id_col: str | None = None,
    geom_col: str = "geometry",
    extent: int = 4096,
    buffer_px: int = 64,
    max_features: int = 10000,
) -> DataFrame:
    """Pre-render EVERY occupied tile at zoom ``z`` in one distributed
    pass — the batch tile-build pipeline behind static tile serving
    (render once, serve bytes), vs the per-request `serialize_tile`.

    Shape: features fan out MAP-SIDE to the tiles their (buffered) bbox
    touches (a sequence-explode over the per-feature tile range — fan-out
    proportional to feature extent, constant for point data), then ONE
    (tile_x, tile_y) exchange groups per tile and an applyInPandas
    kernel clips + command-encodes + assembles each tile's layer bytes
    IN THE WORKER (a tile's layer tables are tile-local, so no global
    coordination; features are id-ordered so the output is
    deterministic and semantically equal to serialize_tile's for the
    same tile — byte-identical except where clip_features' axis-rect
    fast path starts the ring at a different vertex than the general
    Sutherland–Hodgman traversal, which encodes the same polygon).
    Returns (zoom, tile_x, tile_y, n_features, mvt).
    """
    from iceberg_geospatial_api_server_spark.geo.clip import clip_wkb
    from iceberg_geospatial_api_server_spark.geo.functions import with_bbox

    n = 1 << z
    fields = list(out_fields or [])
    cols = ([id_col] if id_col and id_col not in fields else []) + fields

    # per-feature tile range from the buffered bbox (JVM arithmetic):
    # lon → tile fractions; lat → mercator tile fractions
    boxed = with_bbox(df, geom_col)
    bx = F.lit(buffer_px / extent)

    def lon_t(c):
        return (c + 180.0) / 360.0 * n

    def lat_t(c):
        rad = F.radians(c)
        return (
            (1.0 - F.log(F.tan(rad) + 1.0 / F.cos(rad)) / math.pi) / 2.0 * n
        )

    tx0 = F.greatest(
        F.floor(lon_t(F.col("__bbox_xmin")) - bx).cast("long"), F.lit(0)
    )
    tx1 = F.least(
        F.floor(lon_t(F.col("__bbox_xmax")) + bx).cast("long"), F.lit(n - 1)
    )
    # y flips: ymax → smaller tile_y
    ty0 = F.greatest(
        F.floor(lat_t(F.col("__bbox_ymax")) - bx).cast("long"), F.lit(0)
    )
    ty1 = F.least(
        F.floor(lat_t(F.col("__bbox_ymin")) + bx).cast("long"), F.lit(n - 1)
    )
    fanned = (
        boxed.withColumn("tile_x", F.explode(F.sequence(tx0, tx1)))
        .withColumn("tile_y", F.explode(F.sequence(ty0, ty1)))
        .select("tile_x", "tile_y", geom_col, *cols)
    )

    # no type hints: a PARTIALLY hinted (key, pdf) signature makes
    # applyInPandas warn that it cannot infer the eval type
    def build(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        xmin, ymin, xmax, ymax = tile_bbox(z, tx, ty)
        bxd = (xmax - xmin) * buffer_px / extent
        byd = (ymax - ymin) * buffer_px / extent
        bbox = (xmin - bxd, ymin - byd, xmax + bxd, ymax + byd)
        if id_col:
            pdf = pdf.sort_values(id_col, kind="mergesort")
        feats = []
        for _, row in pdf.iterrows():
            buf = row[geom_col]
            if buf is None:
                continue
            clipped = clip_wkb(bytes(buf), bbox)
            if clipped is None:
                continue
            enc = encode_geometry_commands(clipped, z, tx, ty, extent)
            if enc is None:
                continue
            attrs = {
                c: (None if pd.isna(row[c]) else row[c]) for c in fields
            }
            fid = int(row[id_col]) if id_col else None
            feats.append((fid, attrs, enc[0], enc[1]))
            if len(feats) >= max_features:
                break
        if not feats:
            return pd.DataFrame(
                columns=["zoom", "tile_x", "tile_y", "n_features", "mvt"]
            )
        return pd.DataFrame(
            {
                "zoom": [z],
                "tile_x": [tx],
                "tile_y": [ty],
                "n_features": [len(feats)],
                "mvt": [build_layer(layer_name, feats, extent)],
            }
        )

    return (
        fanned.groupBy("tile_x", "tile_y")
        .applyInPandas(build, _TILE_ROW_SCHEMA)
        .orderBy("tile_x", "tile_y")
    )

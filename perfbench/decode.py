"""Protobuf wire-format readers for the two binary responses: the Esri
FeatureCollection PBF (github.com/Esri/arcgis-pbf) and the Mapbox Vector
Tile (v2). Written against the public specs, sharing no code with the
program's encoders, so a check that decodes a response is independent of
the code that produced it. Also a minimal WKB reader for stored layers."""

from __future__ import annotations

import struct


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if b < 0x80:
            return out, i
        shift += 7


def unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def fields(buf: bytes) -> list[tuple[int, object]]:
    """(field number, value) pairs; length-delimited values stay bytes."""
    out, i = [], 0
    while i < len(buf):
        key, i = _varint(buf, i)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(buf, i)
        elif wt == 1:
            v = buf[i:i + 8]
            i += 8
        elif wt == 2:
            n, i = _varint(buf, i)
            v = buf[i:i + n]
            i += n
        elif wt == 5:
            v = buf[i:i + 4]
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        out.append((fno, v))
    return out


def packed(buf: bytes) -> list[int]:
    out, i = [], 0
    while i < len(buf):
        v, i = _varint(buf, i)
        out.append(v)
    return out


def _one(fs, fno):
    return next((v for f, v in fs if f == fno), None)


# -- Esri FeatureCollection PBF ------------------------------------------------


def _esri_value(buf: bytes):
    (fno, v), = fields(buf)
    if fno == 1:
        return v.decode()
    if fno in (2,):
        return struct.unpack("<f", v)[0]
    if fno == 3:
        return struct.unpack("<d", v)[0]
    if fno in (4, 8):
        return unzigzag(v)
    if fno in (5, 6, 7):
        return v
    if fno == 9:
        return bool(v)
    return None


def esri_pbf(buf: bytes) -> dict:
    """{fields: [names], features: [(attrs dict, [(x, y), ...])],
    exceeded: bool}. Coordinates are de-quantized through the response's
    own Transform (upper-left origin: y = translate - q * scale)."""
    top = fields(buf)
    fr = fields(_one(fields(_one(top, 2)), 1))
    tf = fields(_one(fr, 12))
    scale = fields(_one(tf, 2))
    trans = fields(_one(tf, 3)) if _one(tf, 3) is not None else []
    sx = struct.unpack("<d", _one(scale, 1))[0]
    sy = struct.unpack("<d", _one(scale, 2))[0]
    tx = struct.unpack("<d", _one(trans, 1))[0] if _one(trans, 1) else 0.0
    ty = struct.unpack("<d", _one(trans, 2))[0] if _one(trans, 2) else 0.0
    names = [fields(v)[0][1].decode() for f, v in fr if f == 13]
    feats = []
    for f, v in fr:
        if f != 15:
            continue
        fs = fields(v)
        vals = [_esri_value(a) for fno, a in fs if fno == 1]
        coords = []
        g = _one(fs, 2)
        if g is not None:
            gq = packed(_one(fields(g), 3) or b"")
            qx = qy = 0
            for k in range(0, len(gq), 2):
                qx += unzigzag(gq[k])
                qy += unzigzag(gq[k + 1])
                coords.append((tx + qx * sx, ty - qy * sy))
        feats.append((dict(zip(names, vals)), coords))
    return {
        "fields": names,
        "features": feats,
        "exceeded": bool(_one(fr, 9) or 0),
    }


# -- Mapbox Vector Tile -----------------------------------------------------------


def _mvt_value(buf: bytes):
    (fno, v), = fields(buf)
    if fno == 1:
        return v.decode()
    if fno == 2:
        return struct.unpack("<f", v)[0]
    if fno == 3:
        return struct.unpack("<d", v)[0]
    if fno in (4, 5):
        return v
    if fno == 6:
        return unzigzag(v)
    if fno == 7:
        return bool(v)
    return None


def mvt(buf: bytes) -> dict[str, list[dict]]:
    """layer name -> [{id, attrs, type, points: [(px, py), ...]}]. Only
    MoveTo sequences are followed (point layers)."""
    out = {}
    for f, layer in fields(buf):
        if f != 3:
            continue
        ls = fields(layer)
        keys = [v.decode() for fno, v in ls if fno == 3]
        vals = [_mvt_value(v) for fno, v in ls if fno == 4]
        feats = []
        for fno, fb in ls:
            if fno != 2:
                continue
            fs = fields(fb)
            tags = packed(_one(fs, 2) or b"")
            cmds = packed(_one(fs, 4) or b"")
            pts, cx, cy, k = [], 0, 0, 0
            while k < len(cmds):
                cid, cnt = cmds[k] & 7, cmds[k] >> 3
                k += 1
                if cid in (1, 2):
                    for _ in range(cnt):
                        cx += unzigzag(cmds[k])
                        cy += unzigzag(cmds[k + 1])
                        k += 2
                        pts.append((cx, cy))
            feats.append({
                "id": _one(fs, 1),
                "attrs": {keys[tags[j]]: vals[tags[j + 1]]
                          for j in range(0, len(tags), 2)},
                "type": _one(fs, 3),
                "points": pts,
            })
        out[_one(ls, 1).decode()] = feats
    return out


# -- WKB ------------------------------------------------------------------------


def wkb_coords(buf: bytes) -> tuple[int, list[list[tuple[float, float]]]]:
    """(geometry type code, parts) for Point / LineString / Polygon in
    either byte order; a polygon's parts are its rings."""
    bo = "<" if buf[0] == 1 else ">"
    code = struct.unpack(bo + "I", buf[1:5])[0] % 1000
    i = 5

    def pts(n, i):
        vals = struct.unpack(bo + "d" * (2 * n), buf[i:i + 16 * n])
        return [(vals[2 * k], vals[2 * k + 1]) for k in range(n)], i + 16 * n

    if code == 1:
        p, _ = pts(1, i)
        return code, [p]
    if code == 2:
        n = struct.unpack(bo + "I", buf[i:i + 4])[0]
        p, _ = pts(n, i + 4)
        return code, [p]
    if code == 3:
        nr = struct.unpack(bo + "I", buf[i:i + 4])[0]
        i += 4
        rings = []
        for _ in range(nr):
            n = struct.unpack(bo + "I", buf[i:i + 4])[0]
            r, i = pts(n, i + 4)
            rings.append(r)
        return code, rings
    raise ValueError(f"unsupported WKB type {code}")

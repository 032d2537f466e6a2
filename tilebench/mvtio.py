"""A Mapbox Vector Tile writer and reader of the benchmark's own.

Pure Python (protobuf varints, zigzag, geometry commands, a gzip sniff);
it imports nothing from the engine, so the output checks decode tiles
with code that shares no logic with the encoder under test.

Typed values travel as ``(tag, value)`` pairs, ``tag`` one of
``string float double int uint sint bool`` (the MVT ``Value`` fields 1-7).
Polygon rings come back closed (last vertex repeats the first).
"""

from __future__ import annotations

import gzip
import struct

POINT, LINE, POLYGON = 1, 2, 3


# ---------------------------------------------------------------- writer

def _varint(out: bytearray, v: int) -> None:
    v &= (1 << 64) - 1
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _field(out: bytearray, no: int, payload: bytes) -> None:
    _varint(out, (no << 3) | 2)
    _varint(out, len(payload))
    out += payload


def _value(tag: str, v) -> bytes:
    out = bytearray()
    if tag == "string":
        _field(out, 1, v.encode("utf-8"))
    elif tag == "float":
        out.append((2 << 3) | 5)
        out += struct.pack("<f", v)
    elif tag == "double":
        out.append((3 << 3) | 1)
        out += struct.pack("<d", v)
    elif tag in ("int", "uint", "bool"):
        out.append(({"int": 4, "uint": 5, "bool": 7}[tag]) << 3)
        _varint(out, int(v))
    elif tag == "sint":
        out.append(6 << 3)
        _varint(out, _zz(int(v)))
    else:
        raise ValueError(f"unknown value tag {tag!r}")
    return bytes(out)


def _geometry(gtype: int, parts) -> list[int]:
    cmds: list[int] = []
    cx = cy = 0
    if gtype == POINT:
        pts = [p for part in parts for p in part]
        cmds.append(1 | (len(pts) << 3))
        for x, y in pts:
            cmds += (_zz(x - cx), _zz(y - cy))
            cx, cy = x, y
        return cmds
    for part in parts:
        pts = part[:-1] if gtype == POLYGON else part
        x, y = pts[0]
        cmds += (1 | (1 << 3), _zz(x - cx), _zz(y - cy))
        cx, cy = x, y
        cmds.append(2 | ((len(pts) - 1) << 3))
        for x, y in pts[1:]:
            cmds += (_zz(x - cx), _zz(y - cy))
            cx, cy = x, y
        if gtype == POLYGON:
            cmds.append(7 | (1 << 3))
    return cmds


def encode_layer(name: str, features: list[dict], extent: int = 4096,
                 version: int = 2) -> bytes:
    """``features``: dicts with ``id``, ``type``, ``parts`` (lists of
    (x, y); polygon rings closed) and ``props`` {key: (tag, value)}."""
    keys: dict[str, int] = {}
    vals: dict[tuple, int] = {}
    body = bytearray()
    for f in features:
        fb = bytearray()
        if f.get("id") is not None:
            fb.append(1 << 3)
            _varint(fb, f["id"])
        tags = []
        for k, (tag, v) in f["props"].items():
            tags.append(keys.setdefault(k, len(keys)))
            tags.append(vals.setdefault((tag, v), len(vals)))
        packed = bytearray()
        for t in tags:
            _varint(packed, t)
        _field(fb, 2, bytes(packed))
        fb.append(3 << 3)
        _varint(fb, f["type"])
        packed = bytearray()
        for c in _geometry(f["type"], f["parts"]):
            _varint(packed, c)
        _field(fb, 4, bytes(packed))
        _field(body, 2, bytes(fb))
    out = bytearray()
    _field(out, 1, name.encode("utf-8"))
    out += body
    for k in keys:
        _field(out, 3, k.encode("utf-8"))
    for tag, v in vals:
        _field(out, 4, _value(tag, v))
    out.append(5 << 3)
    _varint(out, extent)
    out.append(15 << 3)
    _varint(out, version)
    return bytes(out)


def encode_tile(layers: list[tuple[str, list[dict]]]) -> bytes:
    out = bytearray()
    for name, feats in layers:
        _field(out, 3, encode_layer(name, feats))
    return bytes(out)


# ---------------------------------------------------------------- reader

def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result, pos
        shift += 7


def _fields(buf: bytes):
    """Yield (field number, wire type, value) over one message."""
    pos, n = 0, len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        no, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            v = buf[pos:pos + ln]
            pos += ln
        elif wire == 1:
            v = buf[pos:pos + 8]
            pos += 8
        elif wire == 5:
            v = buf[pos:pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield no, wire, v


def _packed(buf: bytes) -> list[int]:
    out = []
    pos, n = 0, len(buf)
    while pos < n:
        b = buf[pos]
        if b < 0x80:
            out.append(b)
            pos += 1
        else:
            v, pos = _read_varint(buf, pos)
            out.append(v)
    return out


def _unzz(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _read_value(buf: bytes) -> tuple[str, object]:
    for no, _wire, v in _fields(buf):
        if no == 1:
            return "string", bytes(v).decode("utf-8")
        if no == 2:
            return "float", struct.unpack("<f", v)[0]
        if no == 3:
            return "double", struct.unpack("<d", v)[0]
        if no == 4:
            return "int", v - (1 << 64) if v >= 1 << 63 else v
        if no == 5:
            return "uint", v
        if no == 6:
            return "sint", _unzz(v)
        if no == 7:
            return "bool", bool(v)
    raise ValueError("empty value message")


def _read_geometry(cmds: list[int], gtype: int) -> list[list[tuple[int, int]]]:
    parts: list[list[tuple[int, int]]] = []
    cur: list[tuple[int, int]] = []
    x = y = 0
    i, n = 0, len(cmds)
    while i < n:
        cid, count = cmds[i] & 7, cmds[i] >> 3
        i += 1
        if cid == 7:
            cur.append(cur[0])
            continue
        if cid == 1 and gtype != POINT and cur:
            parts.append(cur)
            cur = []
        for _ in range(count):
            dx, dy = cmds[i], cmds[i + 1]
            i += 2
            x += (dx >> 1) ^ -(dx & 1)
            y += (dy >> 1) ^ -(dy & 1)
            if gtype == POINT:
                parts.append([(x, y)])
            else:
                cur.append((x, y))
        if cid not in (1, 2):
            raise ValueError(f"unknown geometry command {cid}")
    if cur:
        parts.append(cur)
    return parts


def decode_tile(buf: bytes) -> list[dict]:
    """Tile bytes (gzip sniffed) → [{name, version, extent, features}];
    each feature {id, type, parts, props}."""
    if buf[:2] == b"\x1f\x8b":
        buf = gzip.decompress(buf)
    layers = []
    for no, _wire, lbuf in _fields(buf):
        if no != 3:
            continue
        name, version, extent = None, 1, 4096
        keys: list[str] = []
        vals: list = []
        raw: list[bytes] = []
        for lno, _w, v in _fields(lbuf):
            if lno == 1:
                name = bytes(v).decode("utf-8")
            elif lno == 2:
                raw.append(v)
            elif lno == 3:
                keys.append(bytes(v).decode("utf-8"))
            elif lno == 4:
                vals.append(_read_value(v))
            elif lno == 5:
                extent = v
            elif lno == 15:
                version = v
        feats = []
        for fbuf in raw:
            fid, tags, gtype, geom = None, [], 0, []
            for fno, _w, v in _fields(fbuf):
                if fno == 1:
                    fid = v
                elif fno == 2:
                    tags = _packed(v)
                elif fno == 3:
                    gtype = v
                elif fno == 4:
                    geom = _packed(v)
            props = {keys[tags[i]]: vals[tags[i + 1]]
                     for i in range(0, len(tags), 2)}
            feats.append({"id": fid, "type": gtype,
                          "parts": _read_geometry(geom, gtype),
                          "props": props})
        layers.append({"name": name, "version": version, "extent": extent,
                       "features": feats})
    return layers

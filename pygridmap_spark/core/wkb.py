"""Minimal WKB codec for Polygon / MultiPolygon / Point (2D, little-endian).

The engine stores geometry columns as WKB ``BinaryType`` (the standard
lake-format convention — GeoParquet/Sedona-compatible byte layout), decoded
batch-at-a-time inside Arrow UDFs into the numpy ring representation of
:mod:`pygridmap_spark.core.geometry`. Implemented from the public OGC
Simple Features / ISO 13249-3 WKB byte layout; no external geometry
dependency.
"""

from __future__ import annotations

import struct

import numpy as np

_LE = 1
WKB_POINT = 1
WKB_POLYGON = 3
WKB_MULTIPOLYGON = 6


def encode_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", _LE, WKB_POINT, x, y)


def encode_polygon(rings) -> bytes:
    """rings: iterable of (N,2) arrays / coordinate lists (first = shell)."""
    out = [struct.pack("<BII", _LE, WKB_POLYGON, len(rings))]
    for ring in rings:
        arr = _close_ring(np.asarray(ring, dtype="<f8"))
        out.append(struct.pack("<I", len(arr)))
        out.append(arr.tobytes())
    return b"".join(out)


def encode_multipolygon(polygons) -> bytes:
    """polygons: iterable of ring-lists."""
    out = [struct.pack("<BII", _LE, WKB_MULTIPOLYGON, len(polygons))]
    for rings in polygons:
        out.append(encode_polygon(rings))
    return b"".join(out)


def encode_box(xmin: float, ymin: float, xmax: float, ymax: float) -> bytes:
    """Axis-aligned rectangle as a WKB Polygon (CCW shell)."""
    return encode_polygon(
        [[(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]]
    )


def _close_ring(arr: np.ndarray) -> np.ndarray:
    if len(arr) == 0 or (arr[0] == arr[-1]).all():
        return arr
    return np.vstack([arr, arr[:1]])


def decode(buf: bytes):
    """Decode WKB -> ('point', (x, y)) | ('multipolygon', [polygon, ...]).

    Polygons are normalized to MultiPolygon form: a list of polygons, each a
    list of (N, 2) float64 rings. Raises ValueError on unsupported types.
    """
    geom, _ = _decode_at(memoryview(buf), 0)
    return geom


def decode_multipolygon(buf: bytes):
    """Decode, asserting a polygonal geometry; returns list-of-polygons."""
    kind, val = decode(buf)
    if kind != "multipolygon":
        raise ValueError(f"expected polygonal WKB, got {kind}")
    return val


def decode_cache(limit: int = 4096):
    """Per-batch-iterator decode cache keyed by polygon id: returns
    ``get(pid, buf)``, decoding each polygon once per Python worker
    (bounded to ``limit`` entries). Shared by every candidate-pair loop
    that sees the same polygon's WKB on many rows."""
    cache: dict = {}

    def get(pid, buf):
        mp = cache.get(pid)
        if mp is None:
            mp = decode_multipolygon(bytes(buf))
            if len(cache) < limit:
                cache[pid] = mp
        return mp

    return get


_EWKB_Z = 0x80000000
_EWKB_M = 0x40000000
_EWKB_SRID = 0x20000000


def _parse_header(mv: memoryview, off: int):
    """Parse one geometry header: (base_type, endian, payload_offset).

    EWKB (PostGIS) and ISO flag variants are handled explicitly — NOT
    masked away: Z/M geometries carry extra doubles per vertex, so decoding
    them as 2D silently yields garbage coordinates. An EWKB SRID payload is
    skipped (4 bytes); Z/M raise."""
    endian = "<" if mv[off] == _LE else ">"
    (gtype,) = struct.unpack_from(endian + "I", mv, off + 1)
    off += 5
    if gtype & (_EWKB_Z | _EWKB_M):
        raise ValueError(
            f"EWKB Z/M geometry (type 0x{gtype:08x}) unsupported: only 2D WKB"
        )
    if gtype & _EWKB_SRID:
        gtype &= ~_EWKB_SRID
        off += 4  # skip the 4-byte SRID payload
    if gtype >= 1000:  # ISO Z (1000) / M (2000) / ZM (3000) offsets
        raise ValueError(
            f"ISO WKB Z/M geometry (type {gtype}) unsupported: only 2D WKB"
        )
    return gtype, endian, off


def _decode_at(mv: memoryview, off: int):
    gtype, endian, off = _parse_header(mv, off)
    if gtype == WKB_POINT:
        x, y = struct.unpack_from(endian + "dd", mv, off)
        return ("point", (x, y)), off + 16
    if gtype == WKB_POLYGON:
        rings, off = _decode_rings(mv, off, endian)
        return ("multipolygon", [rings]), off
    if gtype == WKB_MULTIPOLYGON:
        (n,) = struct.unpack_from(endian + "I", mv, off)
        off += 4
        polys = []
        for _ in range(n):
            inner_type, inner_endian, off = _parse_header(mv, off)
            if inner_type != WKB_POLYGON:
                raise ValueError("MultiPolygon member is not a Polygon")
            rings, off = _decode_rings(mv, off, inner_endian)
            polys.append(rings)
        return ("multipolygon", polys), off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def _decode_rings(mv: memoryview, off: int, endian: str):
    (nrings,) = struct.unpack_from(endian + "I", mv, off)
    off += 4
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from(endian + "I", mv, off)
        off += 4
        arr = np.frombuffer(mv, dtype=endian + "f8", count=npts * 2, offset=off).reshape(npts, 2)
        rings.append(np.array(arr, dtype=np.float64))
        off += npts * 16
    return rings, off

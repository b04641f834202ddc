"""Pure-numpy WKB (Well-Known Binary) codec.

The engine's geometry convention (SURVEY.md §1.4): every geometry rides in
a ``BinaryType`` column as little-endian ISO WKB, decoded only inside
Arrow-batched pandas UDFs. shapely is intentionally NOT a dependency —
this codec plus the kernels in ``kernels.py`` supply everything the
reference's operators need (area/centroid/length/predicates), implemented
against numpy arrays so a batch decode stays vectorizable.

Coordinate convention: 2D (x, y) doubles, planar CRS (FIXTURES.md).

Geometry model (decoded form):
    Point              -> ("Point", ndarray (2,))
    LineString         -> ("LineString", ndarray (n, 2))
    Polygon            -> ("Polygon", [ring0, ring1, ...])  rings are (n, 2)
    MultiPoint         -> ("MultiPoint", ndarray (n, 2))
    MultiLineString    -> ("MultiLineString", [lines])
    MultiPolygon       -> ("MultiPolygon", [[rings], ...])
"""

from __future__ import annotations

import struct

import numpy as np

_LE = b"\x01"
WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6

_HDR_POINT = _LE + struct.pack("<I", WKB_POINT)
_HDR_LINESTRING = _LE + struct.pack("<I", WKB_LINESTRING)
_HDR_POLYGON = _LE + struct.pack("<I", WKB_POLYGON)
_HDR_MULTIPOLYGON = _LE + struct.pack("<I", WKB_MULTIPOLYGON)


# ---------------------------------------------------------------- encoders
def point_wkb(x: float, y: float) -> bytes:
    return _HDR_POINT + struct.pack("<dd", x, y)


def points_wkb(xs: np.ndarray, ys: np.ndarray) -> list[bytes]:
    """Vectorized batch Point encoder: one WKB blob per (x, y) pair."""
    n = len(xs)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1:5] = np.frombuffer(struct.pack("<I", WKB_POINT), dtype=np.uint8)
    buf[:, 5:13] = np.asarray(xs, dtype="<f8").reshape(n, 1).view(np.uint8)
    buf[:, 13:21] = np.asarray(ys, dtype="<f8").reshape(n, 1).view(np.uint8)
    return [b.tobytes() for b in buf]


def linestring_wkb(coords: np.ndarray) -> bytes:
    coords = np.ascontiguousarray(coords, dtype="<f8")
    return _HDR_LINESTRING + struct.pack("<I", len(coords)) + coords.tobytes()


def _ring_bytes(ring: np.ndarray) -> bytes:
    ring = np.ascontiguousarray(ring, dtype="<f8")
    return struct.pack("<I", len(ring)) + ring.tobytes()


def polygon_wkb(rings: list[np.ndarray]) -> bytes:
    body = b"".join(_ring_bytes(r) for r in rings)
    return _HDR_POLYGON + struct.pack("<I", len(rings)) + body


def multipolygon_wkb(polys: list[list[np.ndarray]]) -> bytes:
    body = b"".join(polygon_wkb(rings) for rings in polys)
    return _HDR_MULTIPOLYGON + struct.pack("<I", len(polys)) + body


def rect_wkb(x0: float, y0: float, x1: float, y1: float) -> bytes:
    """Axis-aligned rectangle as a CCW closed-ring Polygon."""
    ring = np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype="<f8"
    )
    return polygon_wkb([ring])


# ---------------------------------------------------------------- decoder
def _read_coords(buf: memoryview, off: int, n: int) -> tuple[np.ndarray, int]:
    end = off + 16 * n
    arr = np.frombuffer(buf[off:end], dtype="<f8").reshape(n, 2)
    return arr, end


def _decode(buf: memoryview, off: int):
    little = buf[off] == 1
    off += 1
    (gtype,) = struct.unpack_from("<I" if little else ">I", buf, off)
    off += 4
    if not little:  # big-endian WKB is rare; normalize by byte order flip
        raise ValueError("big-endian WKB not supported")
    if gtype == WKB_POINT:
        arr, off = _read_coords(buf, off, 1)
        return ("Point", arr[0]), off
    if gtype in (WKB_LINESTRING, WKB_MULTIPOINT):
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        if gtype == WKB_MULTIPOINT:
            # points inside a multipoint each carry their own header
            pts = np.empty((n, 2))
            for i in range(n):
                (g, p), off = _decode(buf, off)
                pts[i] = p
            return ("MultiPoint", pts), off
        arr, off = _read_coords(buf, off, n)
        return ("LineString", arr), off
    if gtype == WKB_POLYGON:
        (nr,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from("<I", buf, off)
            off += 4
            arr, off = _read_coords(buf, off, n)
            rings.append(arr)
        return ("Polygon", rings), off
    if gtype in (WKB_MULTILINESTRING, WKB_MULTIPOLYGON):
        (np_,) = struct.unpack_from("<I", buf, off)
        off += 4
        parts = []
        for _ in range(np_):
            (g, part), off = _decode(buf, off)
            parts.append(part)
        name = "MultiLineString" if gtype == WKB_MULTILINESTRING else "MultiPolygon"
        return (name, parts), off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def decode(wkb: bytes):
    """Decode one WKB blob -> (type_name, payload). See module docstring."""
    (res, _off) = _decode(memoryview(wkb), 0)
    return res

"""WKB codec (OGC well-known binary, 2D), little-endian on write.

The engine's geometry columns are plain BinaryType WKB — the same wire format
the reference uses inside its Spark UDTs (geomesa_pyspark/types.py:8-84).
Includes a bulk fast path for columns of Points: a column of point WKBs decodes
to an (n,2) float64 array with one numpy pass per batch (no per-row work),
which is what keeps the join refine stage Arrow-vectorized.
"""

from __future__ import annotations

import struct

import numpy as np

from .core import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geometry,
    empty,
)

_LE_POINT_HEADER = b"\x01\x01\x00\x00\x00"  # little-endian, type=1
POINT_WKB_SIZE = 21


def points_to_wkb(xs: np.ndarray, ys: np.ndarray) -> list[bytes]:
    """Vectorized encode of n points to a list of WKB buffers."""
    n = len(xs)
    buf = np.empty((n, POINT_WKB_SIZE), dtype=np.uint8)
    buf[:, :5] = np.frombuffer(_LE_POINT_HEADER, dtype=np.uint8)
    buf[:, 5:13] = np.asarray(xs, dtype="<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = np.asarray(ys, dtype="<f8").view(np.uint8).reshape(n, 8)
    return [b.tobytes() for b in buf]


def points_from_wkb(wkbs) -> np.ndarray:
    """Bulk decode a sequence of point WKBs -> (n,2) float64 (NaN for null or
    non-point entries). One numpy pass when every entry is a 21-byte point."""
    n = len(wkbs)
    out = np.full((n, 2), np.nan)
    # fast path: all little-endian 2D points
    fast = all(
        b is not None and len(b) == POINT_WKB_SIZE and b[:5] == _LE_POINT_HEADER
        for b in wkbs
    )
    if fast and n:
        raw = np.frombuffer(b"".join(wkbs), dtype=np.uint8).reshape(n, POINT_WKB_SIZE)
        out[:, 0] = raw[:, 5:13].copy().view("<f8").ravel()
        out[:, 1] = raw[:, 13:21].copy().view("<f8").ravel()
        return out
    for i, b in enumerate(wkbs):
        if b is None:
            continue
        g = from_wkb(b)
        if g.gtype == POINT and not g.is_empty():
            out[i] = g.coords[:2]
    return out


# ------------------------------------------------------------------- general


def to_wkb(g: Geometry) -> bytes:
    parts: list[bytes] = []
    _write(g, parts)
    return b"".join(parts)


def _write(g: Geometry, parts: list[bytes]):
    t = g.gtype
    parts.append(b"\x01")
    parts.append(struct.pack("<I", t))
    if t == POINT:
        if g.is_empty():
            parts.append(struct.pack("<dd", np.nan, np.nan))
        else:
            parts.append(struct.pack("<dd", float(g.coords[0]), float(g.coords[1])))
    elif t == LINESTRING:
        _write_seq(np.asarray(g.coords), parts)
    elif t == POLYGON:
        parts.append(struct.pack("<I", len(g.coords)))
        for r in g.coords:
            _write_seq(np.asarray(r), parts)
    elif t == MULTIPOINT:
        pts = np.asarray(g.coords)
        parts.append(struct.pack("<I", len(pts)))
        for c in pts:
            parts.append(_LE_POINT_HEADER + struct.pack("<dd", c[0], c[1]))
    elif t == MULTILINESTRING:
        parts.append(struct.pack("<I", len(g.coords)))
        for l in g.coords:
            parts.append(b"\x01" + struct.pack("<I", LINESTRING))
            _write_seq(np.asarray(l), parts)
    elif t == MULTIPOLYGON:
        parts.append(struct.pack("<I", len(g.coords)))
        for p in g.coords:
            parts.append(b"\x01" + struct.pack("<I", POLYGON))
            parts.append(struct.pack("<I", len(p)))
            for r in p:
                _write_seq(np.asarray(r), parts)
    elif t == GEOMETRYCOLLECTION:
        parts.append(struct.pack("<I", len(g.coords)))
        for sub in g.coords:
            _write(sub, parts)
    else:  # pragma: no cover
        raise ValueError(f"unsupported type {t}")


def _write_seq(arr: np.ndarray, parts: list[bytes]):
    parts.append(struct.pack("<I", len(arr)))
    if len(arr):
        parts.append(np.ascontiguousarray(arr[:, :2], dtype="<f8").tobytes())


class _Reader:
    __slots__ = ("buf", "i")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.i = 0

    def geometry(self) -> Geometry:
        bo = self.buf[self.i]
        self.i += 1
        fmt = "<" if bo == 1 else ">"
        (raw_type,) = struct.unpack_from(fmt + "I", self.buf, self.i)
        self.i += 4
        # mask off Z/M/SRID flags (EWKB + ISO variants)
        has_srid = bool(raw_type & 0x20000000)
        base = raw_type & 0xFF
        dims = 2
        if raw_type & 0x80000000 or 1000 <= base % 10000 and base > 1000:
            pass
        iso = (raw_type & 0x0FFFFFFF) // 1000  # 1=Z, 2=M, 3=ZM
        if raw_type & 0x80000000:
            dims += 1
        if raw_type & 0x40000000:
            dims += 1
        if iso in (1, 2):
            dims = 3
        elif iso == 3:
            dims = 4
        t = (raw_type & 0x0FFFFFFF) % 1000
        if has_srid:
            self.i += 4
        if t == POINT:
            vals = struct.unpack_from(fmt + "d" * dims, self.buf, self.i)
            self.i += 8 * dims
            return Geometry(POINT, np.array(vals[:2], dtype=np.float64))
        if t == LINESTRING:
            return Geometry(LINESTRING, self._seq(fmt, dims))
        if t == POLYGON:
            (nr,) = struct.unpack_from(fmt + "I", self.buf, self.i)
            self.i += 4
            return Geometry(POLYGON, [self._seq(fmt, dims) for _ in range(nr)])
        if t in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
            (n,) = struct.unpack_from(fmt + "I", self.buf, self.i)
            self.i += 4
            subs = [self.geometry() for _ in range(n)]
            if t == MULTIPOINT:
                if not subs:
                    return empty(MULTIPOINT)
                return Geometry(
                    MULTIPOINT, np.vstack([s.coords[:2] for s in subs])
                )
            if t == MULTILINESTRING:
                return Geometry(MULTILINESTRING, [s.coords for s in subs])
            if t == MULTIPOLYGON:
                return Geometry(MULTIPOLYGON, [s.coords for s in subs])
            return Geometry(GEOMETRYCOLLECTION, subs)
        raise ValueError(f"unsupported WKB type {raw_type}")

    def _seq(self, fmt: str, dims: int) -> np.ndarray:
        (n,) = struct.unpack_from(fmt + "I", self.buf, self.i)
        self.i += 4
        nbytes = 8 * dims * n
        arr = np.frombuffer(
            self.buf, dtype=(fmt + "f8"), count=dims * n, offset=self.i
        ).reshape(n, dims)
        self.i += nbytes
        return np.ascontiguousarray(arr[:, :2], dtype=np.float64)


def from_wkb(buf: bytes) -> Geometry:
    if buf is None:
        raise ValueError("null WKB")
    return _Reader(bytes(buf)).geometry()

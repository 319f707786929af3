"""Seeded input generators for the benchmark.

Every generator is a pure function of (seed, size) returning plain numpy
and Python data built on the driver; workloads.py turns it into the
DataFrames the engine receives. The engine's own synthesizers are
deliberately not used, so a change to them cannot change what the benchmark
feeds the engine.
"""

from __future__ import annotations

import hashlib
import struct
from dataclasses import dataclass

import numpy as np

# generator streams: one independent numpy stream per input kind
_DOCS, _REGIONS, _TEXTS, _QUERIES = 1, 2, 3, 4

T0 = 1451606400  # 2016-01-01T00:00:00Z
HOT = (10.30, 45.20)  # centre of the hot cell every docs table packs 5% into
WORLD = (-180.0, -80.0, 180.0, 80.0)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed) & (2**64 - 1), stream])  # any int seed


@dataclass
class Docs:
    """Interleaved docs: one geometry (point, or an axis-aligned rectangle)
    and one timestamp per doc."""

    doc_id: np.ndarray  # object (str)
    is_poly: np.ndarray  # bool
    minx: np.ndarray
    miny: np.ndarray
    maxx: np.ndarray
    maxy: np.ndarray
    ts: np.ndarray  # int64 epoch seconds

    def __len__(self) -> int:
        return len(self.doc_id)

    @property
    def x(self) -> np.ndarray:
        return (self.minx + self.maxx) / 2

    @property
    def y(self) -> np.ndarray:
        return (self.miny + self.maxy) / 2

    def wkt(self) -> list[str]:
        out = []
        for p, x0, y0, x1, y1 in zip(self.is_poly, self.minx, self.miny, self.maxx, self.maxy):
            if p:
                out.append(
                    f"POLYGON (({x0:.6f} {y0:.6f}, {x0:.6f} {y1:.6f}, {x1:.6f} {y1:.6f}, "
                    f"{x1:.6f} {y0:.6f}, {x0:.6f} {y0:.6f}))"
                )
            else:
                out.append(f"POINT ({x0:.6f} {y0:.6f})")
        return out


def gen_docs(seed: int, n: int, bbox=WORLD, days: int = 31) -> Docs:
    """90% points, 10% rectangles (w <= 1 deg, h <= 0.5 deg), the first 5%
    packed into a 0.2-deg box around HOT, timestamps uniform over `days`.
    Coordinates are rounded to the 6 decimals the WKT carries, so the
    generator's own copy of a geometry equals the one the engine parses."""
    rng = _rng(seed, _DOCS)
    x0, y0, x1, y1 = bbox
    cx = rng.uniform(x0, x1, n)
    cy = rng.uniform(y0, y1, n)
    n_hot = n // 20
    cx[:n_hot] = HOT[0] + rng.uniform(-0.1, 0.1, n_hot)
    cy[:n_hot] = HOT[1] + rng.uniform(-0.1, 0.1, n_hot)
    is_poly = rng.uniform(0, 1, n) < 0.10
    is_poly[:n_hot] = False
    w = np.where(is_poly, rng.uniform(0.01, 1.0, n), 0.0)
    h = np.where(is_poly, rng.uniform(0.01, 0.5, n), 0.0)
    minx = np.round(np.clip(cx - w / 2, -180, 180), 6)
    maxx = np.round(np.clip(cx + w / 2, -180, 180), 6)
    miny = np.round(np.clip(cy - h / 2, -90, 90), 6)
    maxy = np.round(np.clip(cy + h / 2, -90, 90), 6)
    ts = T0 + rng.integers(0, days * 86400, n)
    ids = np.array([f"doc-{i:08d}" for i in range(n)], dtype=object)
    return Docs(ids, is_poly, minx, miny, maxx, maxy, ts.astype(np.int64))


def star_polygon(rng: np.random.Generator, cx: float, cy: float, r: float, nv: int) -> np.ndarray:
    """Closed ring of a star-shaped (hence simple) non-rectangular polygon:
    sorted random angles, radii in [0.5r, r], coordinates rounded to 6
    decimals."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    rad = rng.uniform(0.5 * r, r, nv)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    ring = np.round(ring, 6)
    return np.vstack([ring, ring[:1]])


def rect_ring(x0: float, y0: float, x1: float, y1: float) -> np.ndarray:
    return np.array([[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]])


def gen_regions(seed: int, n: int) -> list[np.ndarray]:
    """Half rectangles, half 6-10 vertex star polygons, 0.3-3 deg across,
    spread over WORLD; 1 in 500 is centred on the hot cell."""
    rng = _rng(seed, _REGIONS)
    x0, y0, x1, y1 = WORLD
    rings = []
    for i in range(n):
        if i % 500 == 0:
            cx, cy = HOT[0] + rng.uniform(-0.3, 0.3), HOT[1] + rng.uniform(-0.3, 0.3)
        else:
            cx, cy = rng.uniform(x0 + 3, x1 - 3), rng.uniform(y0 + 3, y1 - 3)
        r = rng.uniform(0.15, 1.5)
        if i % 2 == 0:
            hw, hh = r, r * rng.uniform(0.3, 1.0)
            rings.append(np.round(rect_ring(cx - hw, cy - hh, cx + hw, cy + hh), 6))
        else:
            rings.append(star_polygon(rng, cx, cy, r, int(rng.integers(6, 11))))
    return rings


def ring_wkt(ring: np.ndarray) -> str:
    return "POLYGON ((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in ring) + "))"


def ring_wkb(ring: np.ndarray) -> bytes:
    """Little-endian OGC WKB of a one-ring polygon."""
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + np.asarray(ring, "<f8").tobytes()


# ---------------------------------------------------------------- texts

_VOCAB_SIZE = 2000


def _vocab(rng: np.random.Generator) -> np.ndarray:
    lens = rng.integers(3, 10, _VOCAB_SIZE)
    letters = rng.integers(97, 123, (_VOCAB_SIZE, 10)).astype(np.uint8)
    return np.array([bytes(letters[i, : lens[i]]).decode() for i in range(_VOCAB_SIZE)])


@dataclass
class Texts:
    doc_id: list[str]
    text: list[str]
    planted: list[tuple[str, str]]  # (original id, near-duplicate id), id order


DUP_FRAC = 0.05  # share of texts that are planted near-duplicates
WORDS = 40  # words per original text


def gen_texts(seed: int, n: int) -> Texts:
    """~260-char texts of WORDS random vocabulary words; the last DUP_FRAC
    of the ids are planted near-duplicates: a copy of a random earlier
    original with one word appended."""
    rng = _rng(seed, _TEXTS)
    vocab = _vocab(rng)
    n_dup = int(n * DUP_FRAC)
    n_orig = n - n_dup
    idx = rng.integers(0, _VOCAB_SIZE, (n_orig, WORDS))
    texts = [" ".join(row) for row in vocab[idx]]
    src = rng.choice(n_orig, n_dup, replace=False)
    extra = vocab[rng.integers(0, _VOCAB_SIZE, n_dup)]
    texts += [texts[s] + " " + e for s, e in zip(src, extra)]
    ids = [f"t{i:07d}" for i in range(n)]
    planted = [(ids[s], ids[n_orig + j]) for j, s in enumerate(src)]
    return Texts(ids, texts, planted)


# ---------------------------------------------------------------- queries


@dataclass
class Query:
    kind: str  # bbox_time | polygon | density | knn
    wkt: str | None = None
    ring: np.ndarray | None = None
    interval: tuple[int, int] | None = None  # epoch seconds [lo, hi)
    point: tuple[float, float] | None = None


# queries of each kind per block of the sequence: knn, the slowest kind, is
# a quarter of every block (so the top tenth of latencies falls inside one
# kind), and the two fastest kinds are two thirds (so the median does too)
QUERY_MIX = {"bbox_time": 4, "polygon": 4, "density": 1, "knn": 3}


def gen_queries(seed: int, blocks: int, bbox, days: int) -> list[Query]:
    """A fixed, seeded sequence of `blocks` blocks, each holding QUERY_MIX
    queries in shuffled order (so every whole number of blocks has the exact
    mix), positioned inside `bbox` and the `days` after T0."""
    rng = _rng(seed, _QUERIES)
    block = [k for k, c in QUERY_MIX.items() for _ in range(c)]
    kinds = [block[i] for _ in range(blocks) for i in rng.permutation(len(block))]
    x0, y0, x1, y1 = bbox
    out = []
    for kind in kinds:
        cx, cy = rng.uniform(x0 + 3, x1 - 3), rng.uniform(y0 + 3, y1 - 3)
        if kind == "bbox_time":
            hw, hh = rng.uniform(1.5, 2.0), rng.uniform(1.0, 1.3)
            ring = np.round(rect_ring(cx - hw, cy - hh, cx + hw, cy + hh), 6)
            lo = T0 + int(rng.integers(0, (days - 2) * 86400))
            out.append(Query(kind, ring_wkt(ring), ring, (lo, lo + int(rng.integers(86400, 2 * 86400)))))
        elif kind == "polygon":
            ring = star_polygon(rng, cx, cy, rng.uniform(1.4, 1.6), int(rng.integers(6, 11)))
            out.append(Query(kind, ring_wkt(ring), ring))
        elif kind == "density":
            hw, hh = rng.uniform(2.0, 3.0), rng.uniform(1.5, 2.5)
            ring = np.round(rect_ring(cx - hw, cy - hh, cx + hw, cy + hh), 6)
            out.append(Query(kind, ring_wkt(ring), ring))
        else:
            out.append(Query(kind, point=(round(cx, 6), round(cy, 6))))
    return out


# ---------------------------------------------------------------- hashing


def content_hash(*parts) -> str:
    """sha256 over generated inputs (arrays, strings, lists, Query and
    dataclass values), used to prove the generators are seed-deterministic."""
    h = hashlib.sha256()

    def feed(v):
        if isinstance(v, np.ndarray):
            h.update(str(v.dtype).encode())
            h.update(np.ascontiguousarray(v).tobytes() if v.dtype != object else "\x1f".join(map(str, v)).encode())
        elif isinstance(v, (list, tuple)):
            h.update(b"[")
            for x in v:
                feed(x)
            h.update(b"]")
        elif hasattr(v, "__dataclass_fields__"):
            for f in v.__dataclass_fields__:
                feed(getattr(v, f))
        else:
            h.update(repr(v).encode())

    for p in parts:
        feed(p)
    return h.hexdigest()

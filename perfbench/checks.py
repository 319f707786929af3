"""Independent reference answers for the benchmark's output checks.

Everything here is written from the definitions (ray casting, segment
crossing, haversine, character-shingle Jaccard) on the generators' own
numpy data; nothing is imported from the engine, so a wrong engine result
cannot agree with its own reference.
"""

from __future__ import annotations

import math

import numpy as np

EARTH_RADIUS_M = 6371008.8


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of many points against one closed ring."""
    inside = np.zeros(len(px), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        crosses = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (px < xc)
    return inside


def _segments_cross(a0, a1, b0, b1) -> bool:
    def orient(p, q, r):
        return (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])

    d1, d2 = orient(b0, b1, a0), orient(b0, b1, a1)
    d3, d4 = orient(a0, a1, b0), orient(a0, a1, b1)
    return (d1 * d2 <= 0) and (d3 * d4 <= 0)


def rect_intersects_ring(x0, y0, x1, y1, ring: np.ndarray) -> bool:
    """Closed rectangle vs polygon ring: a corner inside the polygon, a
    polygon vertex inside the rectangle, or a crossing edge pair."""
    rect = np.array([[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]])
    if points_in_ring(rect[:4, 0], rect[:4, 1], ring).any():
        return True
    rx, ry = ring[:-1, 0], ring[:-1, 1]
    if ((rx >= x0) & (rx <= x1) & (ry >= y0) & (ry <= y1)).any():
        return True
    return any(
        _segments_cross(rect[i], rect[i + 1], ring[j], ring[j + 1])
        for i in range(4)
        for j in range(len(ring) - 1)
    )


def intersecting(docs, idx: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Positions (into idx) of the docs intersecting the polygon `ring`."""
    minx, miny, maxx, maxy = docs.minx[idx], docs.miny[idx], docs.maxx[idx], docs.maxy[idx]
    bx0, by0 = ring[:, 0].min(), ring[:, 1].min()
    bx1, by1 = ring[:, 0].max(), ring[:, 1].max()
    cand = np.nonzero((minx <= bx1) & (maxx >= bx0) & (miny <= by1) & (maxy >= by0))[0]
    poly = docs.is_poly[idx][cand]
    hit = np.zeros(len(cand), dtype=bool)
    pts = cand[~poly]
    hit[~poly] = points_in_ring(minx[pts], miny[pts], ring)
    for k in np.nonzero(poly)[0]:
        c = cand[k]
        hit[k] = rect_intersects_ring(minx[c], miny[c], maxx[c], maxy[c], ring)
    return cand[hit]


def join_pairs(docs, idx: np.ndarray, rings: list[np.ndarray]) -> set[tuple[str, str]]:
    """Brute-force (doc_id, region_id) intersects pairs for the docs at idx."""
    out = set()
    for r, ring in enumerate(rings):
        for k in intersecting(docs, idx, ring):
            out.add((docs.doc_id[idx[k]], f"r{r:06d}"))
    return out


def bbox_time_ids(docs, ring: np.ndarray, interval) -> set[str]:
    x0, y0 = ring[:, 0].min(), ring[:, 1].min()
    x1, y1 = ring[:, 0].max(), ring[:, 1].max()
    lo, hi = interval
    m = (
        (docs.minx <= x1) & (docs.maxx >= x0) & (docs.miny <= y1) & (docs.maxy >= y0)
        & (docs.ts >= lo) & (docs.ts < hi)
    )
    return set(docs.doc_id[m])


def polygon_ids(docs, ring: np.ndarray) -> set[str]:
    idx = np.arange(len(docs))
    return set(docs.doc_id[intersecting(docs, idx, ring)])


def density_grid(docs, ring: np.ndarray, width: int, height: int) -> dict[tuple[int, int], float]:
    """Count per (i, j) cell of the rows intersecting the rectangle `ring`,
    binned by centroid; cell size (max-min)/n, the max edge closing the
    last cell."""
    x0, y0 = ring[:, 0].min(), ring[:, 1].min()
    x1, y1 = ring[:, 0].max(), ring[:, 1].max()
    m = (docs.minx <= x1) & (docs.maxx >= x0) & (docs.miny <= y1) & (docs.maxy >= y0)
    x, y = docs.x[m], docs.y[m]
    keep = (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)
    i = np.minimum(np.floor((x[keep] - x0) / ((x1 - x0) / width)), width - 1).astype(int)
    j = np.minimum(np.floor((y[keep] - y0) / ((y1 - y0) / height)), height - 1).astype(int)
    out: dict = {}
    for a, b in zip(i, j):
        out[(int(a), int(b))] = out.get((int(a), int(b)), 0.0) + 1.0
    return out


def haversine_m(lon1, lat1, lon2, lat2):
    rl1, rp1, rl2, rp2 = map(np.radians, (lon1, lat1, lon2, lat2))
    h = np.sin((rp2 - rp1) / 2) ** 2 + np.cos(rp1) * np.cos(rp2) * np.sin((rl2 - rl1) / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def knn_ids(docs, point, k: int) -> list[tuple[str, float]]:
    """Ordered haversine top-k by (distance, doc_id) over doc centroids."""
    d = haversine_m(docs.x, docs.y, point[0], point[1])
    order = np.lexsort((docs.doc_id, d))[:k]
    return [(docs.doc_id[i], float(d[i])) for i in order]


def shingles(text: str, k: int = 3) -> set[str]:
    t = text.lower()
    return {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb)


def same_distances(got: list[float], want: list[float], rel: float = 1e-6) -> bool:
    return len(got) == len(want) and all(
        math.isclose(g, w, rel_tol=rel, abs_tol=1e-3) for g, w in zip(got, want)
    )

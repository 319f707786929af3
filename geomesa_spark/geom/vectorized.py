"""Batch-level geometry ops for Arrow pandas UDFs.

Every vectorized point test goes through ONE kernel, `locate_batch` — the
numpy mirror of the scalar `algorithms.locate` (same eps conventions, same
union semantics for multis and collections), so a batch verdict and the
scalar verdict for the same point agree by construction. On top of it sit
the join-refine batches the measured workloads send: areal x areal
`intersects` (vertex locates + proper edge crossings) and the lineal
classifier behind every lineal predicate. Pairs outside those shapes take
the scalar relate in the caller.
"""

from __future__ import annotations

import numpy as np

from . import algorithms as alg
from . import wkb as wkb_mod
from .core import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geometry,
)
from .wkb import from_wkb, points_from_wkb

_INT, _BND, _EXT = alg.INTERIOR, alg.BOUNDARY, alg.EXTERIOR


def bounds_many(wkbs) -> np.ndarray:
    """(n,4) minx,miny,maxx,maxy; NaN rows for nulls. Fast path for points."""
    n = len(wkbs)
    pts = points_from_wkb(wkbs)
    mask = ~np.isnan(pts[:, 0])
    out = np.full((n, 4), np.nan)
    out[mask, 0] = pts[mask, 0]
    out[mask, 1] = pts[mask, 1]
    out[mask, 2] = pts[mask, 0]
    out[mask, 3] = pts[mask, 1]
    # non-point rows
    for i in np.nonzero(~mask)[0]:
        b = wkbs[i]
        if b is None:
            continue
        g = from_wkb(b)
        out[i] = g.bounds()
    return out


# ----------------------------------------------------------- point location


def _near_pt_batch(px, py, qx, qy) -> np.ndarray:
    """Vectorized algorithms._near_pt: scale-relative coordinate equality of
    n points vs ONE point."""
    scale = np.maximum(
        max(1.0, abs(qx), abs(qy)), np.maximum(np.abs(px), np.abs(py))
    )
    eps = alg._EPS * scale
    return (np.abs(px - qx) <= eps) & (np.abs(py - qy) <= eps)


def _on_segment_batch(px, py, ax, ay, bx, by) -> np.ndarray:
    """Vectorized algorithms._on_segment for n points vs ONE segment, with
    the scalar's exact scale-relative collinearity eps."""
    scale = np.maximum(
        max(1.0, abs(ax), abs(ay), abs(bx), abs(by)),
        np.maximum(np.abs(px), np.abs(py)),
    )
    o = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    return (
        (np.abs(o) <= alg._EPS * scale)
        & (px >= min(ax, bx) - alg._EPS)
        & (px <= max(ax, bx) + alg._EPS)
        & (py >= min(ay, by) - alg._EPS)
        & (py <= max(ay, by) + alg._EPS)
    )


def _point_in_ring_batch(px, py, ring: np.ndarray) -> np.ndarray:
    """Vectorized algorithms._point_in_ring: locate code (0/1/2) per point.
    Boundary wins over crossing parity, as in the scalar (which returns
    BOUNDARY before finishing the crossing count).

    Same arithmetic as _on_segment_batch, in the cheaper order: the
    scale-relative orientation runs over all points and the edge box only
    over the few it flags. The per-point half of the eps scale is hoisted
    out of the edge loop (eps * max(a, b) == max(eps * a, eps * b) exactly,
    rounding being monotone), and the orientation shares its first product
    with the crossing abscissa."""
    ring = np.asarray(ring, dtype=np.float64)
    on = np.zeros(len(px), dtype=bool)
    inside = np.zeros(len(px), dtype=bool)
    peps = alg._EPS * np.maximum(np.abs(px), np.abs(py))
    for (ax, ay), (bx, by) in zip(ring[:-1, :2].tolist(), ring[1:, :2].tolist()):
        t = (py - ay) * (bx - ax)
        if by != ay:
            inside ^= ((ay > py) != (by > py)) & (px < ax + t / (by - ay))
        eeps = alg._EPS * max(1.0, abs(ax), abs(ay), abs(bx), abs(by))
        near = np.abs(t - (by - ay) * (px - ax)) <= np.maximum(eeps, peps)
        if near.any():
            k = np.flatnonzero(near)
            qx, qy = px[k], py[k]
            on[k[
                (qx >= min(ax, bx) - alg._EPS)
                & (qx <= max(ax, bx) + alg._EPS)
                & (qy >= min(ay, by) - alg._EPS)
                & (qy <= max(ay, by) + alg._EPS)
            ]] = True
    return np.where(on, _BND, np.where(inside, _INT, _EXT)).astype(np.int8)


def _locate_in_polygon_batch(px, py, rings) -> np.ndarray:
    """Vectorized algorithms._locate_in_polygon (shell + holes)."""
    loc = _point_in_ring_batch(px, py, np.asarray(rings[0]))
    interior = loc == _INT
    if interior.any():
        for hole in rings[1:]:
            idx = np.nonzero(interior)[0]
            hl = _point_in_ring_batch(px[idx], py[idx], np.asarray(hole))
            loc[idx[hl == _BND]] = _BND
            loc[idx[hl == _INT]] = _EXT
            interior = loc == _INT
            if not interior.any():
                break
    return loc


def locate_batch(px, py, g: Geometry) -> np.ndarray:
    """Vectorized algorithms.locate: per point 0 interior / 1 boundary /
    2 exterior with union semantics for multis and collections. The one
    vectorized point-location kernel: point-in-polygon callers read
    `!= EXTERIOR` (boundary counts) or `== INTERIOR` (strict)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    t = g.gtype
    if t in (POLYGON, MULTIPOLYGON):
        best = np.full(len(px), _EXT, dtype=np.int8)
        for rings in alg._polygons_of(g):
            best = np.minimum(best, _locate_in_polygon_batch(px, py, rings))
            if not (best > _INT).any():
                break
        return best
    if t in (LINESTRING, MULTILINESTRING):
        # scalar order: boundary-endpoint match wins, then on-segment
        # (eps-tolerant like algorithms._near_pt: computed split points
        # land ulps off the exact endpoint they hit)
        bnd = np.zeros(len(px), dtype=bool)
        for bx, by in alg._line_boundary_points(g):
            bnd |= _near_pt_batch(px, py, float(bx), float(by))
        on = np.zeros(len(px), dtype=bool)
        for ax, ay, bx, by in alg._line_segments(g):
            on |= _on_segment_batch(px, py, float(ax), float(ay), float(bx), float(by))
        return np.where(bnd, _BND, np.where(on, _INT, _EXT)).astype(np.int8)
    if t in (POINT, MULTIPOINT, GEOMETRYCOLLECTION):
        # union semantics over the flattened part families, mirroring the
        # scalar locate()'s min-over-members rule (INTERIOR < BOUNDARY <
        # EXTERIOR numerically). Point members match EXACTLY, as in the
        # scalar (locate uses ==, not the eps test, for point geometries).
        best = np.full(len(px), _EXT, dtype=np.int8)
        polys = alg._polygons_of(g)
        if polys:
            best = np.minimum(
                best, locate_batch(px, py, Geometry(MULTIPOLYGON, polys))
            )
        lines = alg._lines_of(g)
        if lines:
            best = np.minimum(
                best, locate_batch(px, py, Geometry(MULTILINESTRING, lines))
            )
        for qx, qy in alg._points_of(g):
            best = np.minimum(
                best,
                np.where((px == float(qx)) & (py == float(qy)), _INT, _EXT).astype(
                    np.int8
                ),
            )
        return best
    raise ValueError(f"locate_batch: unsupported geometry type {t}")


# ------------------------------------------------------- areal x areal


def _areal_edges(g: Geometry) -> np.ndarray:
    """All boundary edges (shell + holes, every polygon) as an (n, 4) array
    of (ax, ay, bx, by)."""
    parts = []
    for rings in alg._polygons_of(g):
        for r in rings:
            r = np.asarray(r, dtype=np.float64)
            parts.append(
                np.column_stack([r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]])
            )
    return np.concatenate(parts) if parts else np.empty((0, 4))


def _areal_vertices(g: Geometry) -> np.ndarray:
    """All ring vertices (without the closing duplicate) as (n, 2)."""
    parts = []
    for rings in alg._polygons_of(g):
        for r in rings:
            r = np.asarray(r, dtype=np.float64)
            parts.append(r[:-1, :2])
    return np.concatenate(parts) if parts else np.empty((0, 2))


def areal_intersects_batch(lefts: list[Geometry], right: Geometry) -> np.ndarray:
    """Vectorized closed-set intersects(A_i, right) for a batch of AREAL
    geometries against ONE areal geometry — the extent x extent join-refine
    path (one batch per distinct right geometry, mirroring the point path).

    Exact decision procedure for two closed polygonal regions:
      A intersects B  <=>  (some vertex of A in closed B)
                        or (some vertex of B in closed A)
                        or (some edge of A properly crosses some edge of B).
    Touching/collinear-overlap cases always place a vertex of one geometry on
    the other's boundary, which the boundary-inclusive locate detects, so
    the edge test only needs PROPER crossings (strict sign changes). Each
    step is numpy over the whole undecided set; no per-coordinate Python."""
    n = len(lefts)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return out
    # 1. any A vertex in closed B — ONE locate over all batch vertices
    verts = [_areal_vertices(g) for g in lefts]
    counts = np.array([len(v) for v in verts])
    allv = np.concatenate([v for v in verts if len(v)]) if counts.sum() else None
    if allv is not None:
        hit = locate_batch(allv[:, 0], allv[:, 1], right) != _EXT
        offs = np.concatenate([[0], np.cumsum(counts)[:-1]])
        # segment-OR back to per-geometry verdicts (slices are numpy-cheap)
        out |= np.array(
            [c > 0 and bool(hit[o : o + c].any()) for o, c in zip(offs, counts)]
        )
    # 2. any B vertex in closed A_i (catches A-contains-B) — one locate of
    #    B's vertices per undecided A
    bv = _areal_vertices(right)
    undecided = np.nonzero(~out)[0]
    for i in undecided:
        if len(bv) and (locate_batch(bv[:, 0], bv[:, 1], lefts[i]) != _EXT).any():
            out[i] = True
    # 3. proper edge crossings (cross-overlaps with all vertices mutually
    #    outside) — broadcast orientation tests, chunked to bound memory
    undecided = np.nonzero(~out)[0]
    if len(undecided):
        out[undecided] |= _proper_crossings([lefts[i] for i in undecided], right)
    return out


def _proper_crossings(lefts: list[Geometry], right: Geometry) -> np.ndarray:
    """bool per left geometry: does any edge of it PROPERLY cross (strict
    sign changes on both orientation pairs) any edge of `right`? Broadcast
    orientation tests over the concatenated edge sets, chunked to bound the
    (left_edges x right_edges) intermediate."""
    res = np.zeros(len(lefts), dtype=bool)
    be = _areal_edges(right)
    if len(be) == 0 or not lefts:
        return res
    ae_list = [_areal_edges(g) for g in lefts]
    owners = np.concatenate(
        [np.full(len(e), k) for k, e in enumerate(ae_list)]
    ) if ae_list else np.empty(0, dtype=int)
    ae = np.concatenate(ae_list) if ae_list else np.empty((0, 4))
    if len(ae) == 0:
        return res
    b1x, b1y, b2x, b2y = be[:, 0], be[:, 1], be[:, 2], be[:, 3]
    chunk = max(1, int(2_000_000 // max(1, len(be))))
    for s in range(0, len(ae), chunk):
        a = ae[s : s + chunk]
        a1x, a1y = a[:, 0:1], a[:, 1:2]
        a2x, a2y = a[:, 2:3], a[:, 3:4]
        # o(b1,b2,a) for both A endpoints; o(a1,a2,b) for both B endpoints
        d1 = (b2x - b1x) * (a1y - b1y) - (b2y - b1y) * (a1x - b1x)
        d2 = (b2x - b1x) * (a2y - b1y) - (b2y - b1y) * (a2x - b1x)
        d3 = (a2x - a1x) * (b1y - a1y) - (a2y - a1y) * (b1x - a1x)
        d4 = (a2x - a1x) * (b2y - a1y) - (a2y - a1y) * (b2x - a1x)
        cross = ((d1 > 0) != (d2 > 0)) & (d1 != 0) & (d2 != 0)
        cross &= ((d3 > 0) != (d4 > 0)) & (d3 != 0) & (d4 != 0)
        rows = cross.any(axis=1)
        if rows.any():
            np.logical_or.at(res, owners[s : s + chunk][rows], True)
    return res


# ------------------------------------------------------- mixed-dimension ops
# Vectorized join-refine predicates for LINEAL geometries (LineString /
# MultiLineString) against areal or lineal partners — the batch analog of
# algorithms._classify_segments_vs: split every left segment at its
# intersections with the partner's segments (one chunked S x E broadcast for
# the WHOLE batch), classify sub-segment midpoints and touch points with
# locate_batch, then assemble the DE-9IM cells each predicate needs.


_LINEAL_FLAGS = (
    "in1", "on1", "out1",  # sub-segment midpoints: interior/boundary/exterior
    "pti_i", "ptb_i", "pte_i",  # non-endpoint touch pts by partner locate
    "pti_b", "ptb_b", "pte_b",  # line-boundary-endpoint touch pts
)


def _classify_lineal_batch(lines: list[Geometry], other: Geometry) -> dict:
    """Batch analog of algorithms._classify_segments_vs for LINEAL lefts vs
    ONE partner (areal or lineal): per left, has_in/has_on/has_out over
    split sub-segment midpoints PLUS the located touch/vertex points split
    by line-endpoint membership — everything relate() needs for the join
    predicates, computed with one chunked S x E parameter broadcast and
    vectorized locates instead of per-segment Python."""
    n = len(lines)
    res = {k: np.zeros(n, dtype=bool) for k in _LINEAL_FLAGS}
    seg_parts, seg_owner = [], []
    vert_parts, vert_owner, vert_end = [], [], []
    bpts_by_owner: dict[int, np.ndarray] = {}
    for i, g in enumerate(lines):
        bp = alg._line_boundary_points(g)
        bpts_by_owner[i] = bp
        for a in alg._lines_of(g):
            a = np.asarray(a, dtype=np.float64)[:, :2]
            if len(a) < 2:
                continue
            segs = np.hstack([a[:-1], a[1:]])
            # zero-length segments (duplicated vertices) are 0-dim features:
            # classifying their "midpoint" would fabricate a spurious 1-dim
            # contact. Their points still contribute via the vertex list.
            live = (segs[:, 0] != segs[:, 2]) | (segs[:, 1] != segs[:, 3])
            if live.any():
                seg_parts.append(segs[live])
                seg_owner.append(np.full(int(live.sum()), i, dtype=np.int64))
            vert_parts.append(a)
            vert_owner.append(np.full(len(a), i, dtype=np.int64))
            vend = np.zeros(len(a), dtype=bool)
            for qx, qy in bp:
                vend |= _near_pt_batch(a[:, 0], a[:, 1], float(qx), float(qy))
            vert_end.append(vend)
    if not seg_parts:
        return res
    S = np.concatenate(seg_parts)
    so = np.concatenate(seg_owner)
    V = np.concatenate(vert_parts)
    vo = np.concatenate(vert_owner)
    ve = np.concatenate(vert_end)
    nseg = len(S)

    # ---- split parameters: vectorized algorithms._seg_params over all
    # (left segment, partner segment) pairs, chunked to bound the broadcast
    be = alg._line_segments(other)
    ps_parts = [np.empty(0, dtype=np.int64)]
    pt_parts = [np.empty(0, dtype=np.float64)]
    E = len(be)
    if E:
        b1x, b1y = be[:, 0][None, :], be[:, 1][None, :]
        b2x, b2y = be[:, 2][None, :], be[:, 3][None, :]
        d1x, d1y = b2x - b1x, b2y - b1y
        bscale = np.maximum(np.abs(b1x), np.abs(b1y))
        chunk = max(1, int(2_000_000 // E))
        for s0 in range(0, nseg, chunk):
            sc = S[s0 : s0 + chunk]
            ax, ay = sc[:, 0:1], sc[:, 1:2]
            bx, by = sc[:, 2:3], sc[:, 3:4]
            dx, dy = bx - ax, by - ay
            denom = dx * d1y - dy * d1x
            scale = np.maximum(
                1.0,
                np.maximum(
                    np.maximum(np.abs(ax), np.abs(ay)),
                    np.maximum(np.abs(bx), np.abs(by)),
                ),
            )
            eps = alg._EPS * np.maximum(scale, bscale)
            nonpar = np.abs(denom) > eps
            with np.errstate(divide="ignore", invalid="ignore"):
                t = ((b1x - ax) * d1y - (b1y - ay) * d1x) / denom
                u = ((b1x - ax) * dy - (b1y - ay) * dx) / denom
            valid = (
                nonpar
                & (t >= -1e-12) & (t <= 1 + 1e-12)
                & (u >= -1e-12) & (u <= 1 + 1e-12)
            )
            si, ei = np.nonzero(valid)
            ps_parts.append(si.astype(np.int64) + s0)
            pt_parts.append(np.clip(t[si, ei], 0.0, 1.0))
            # parallel-collinear branch: project partner endpoints onto a->b
            o1 = dx * (b1y - ay) - dy * (b1x - ax)
            o2 = dx * (b2y - ay) - dy * (b2x - ax)
            L2 = dx * dx + dy * dy
            col = (~nonpar) & (np.abs(o1) <= eps) & (np.abs(o2) <= eps) & (L2 > 0)
            if col.any():
                with np.errstate(divide="ignore", invalid="ignore"):
                    t1 = ((b1x - ax) * dx + (b1y - ay) * dy) / L2
                    t2 = ((b2x - ax) * dx + (b2y - ay) * dy) / L2
                for tt in (t1, t2):
                    v2 = col & (tt >= -1e-12) & (tt <= 1 + 1e-12)
                    si, ei = np.nonzero(v2)
                    ps_parts.append(si.astype(np.int64) + s0)
                    pt_parts.append(np.clip(tt[si, ei], 0.0, 1.0))
    ps = np.concatenate(ps_parts)
    pt = np.concatenate(pt_parts)
    if len(ps):
        uniq = np.unique(np.stack([ps.astype(np.float64), pt], axis=1), axis=0)
        ps = uniq[:, 0].astype(np.int64)
        pt = uniq[:, 1]
        # merge near-equal params within a segment against the LAST KEPT
        # param (the scalar _seg_params rule: the chain t, t+1e-12, t+2e-12
        # keeps {t, t+2e-12}); adjacent-pair differencing would collapse the
        # whole chain to {t} — a by-construction batch-vs-scalar divergence
        # (ADVICE r5). The python walk only runs over batches that actually
        # contain sub-eps-adjacent params — rare.
        if len(ps) > 1:
            close = (ps[1:] == ps[:-1]) & ((pt[1:] - pt[:-1]) <= 1e-12)
            if close.any():
                keep2 = np.ones(len(ps), dtype=bool)
                last_s, last_t = ps[0], pt[0]
                for i in range(1, len(ps)):
                    if ps[i] == last_s and pt[i] - last_t <= 1e-12:
                        keep2[i] = False
                    else:
                        last_s, last_t = ps[i], pt[i]
                ps, pt = ps[keep2], pt[keep2]
        # endpoint filter AFTER the merge, matching the scalar's order: a
        # kept param at t <= 1e-12 absorbs its sub-eps neighbors before
        # being dropped itself
        keep = (pt > 1e-12) & (pt < 1 - 1e-12)
        ps, pt = ps[keep], pt[keep]

    # ---- sub-segment midpoints (0/1 sentinels + sorted interior splits)
    allseg = np.concatenate([np.arange(nseg), np.arange(nseg), ps])
    allt = np.concatenate([np.zeros(nseg), np.ones(nseg), pt])
    order = np.lexsort((allt, allseg))
    allseg, allt = allseg[order], allt[order]
    same = allseg[:-1] == allseg[1:]
    segi = allseg[:-1][same]
    tm = (allt[:-1][same] + allt[1:][same]) / 2.0
    mx = S[segi, 0] + (S[segi, 2] - S[segi, 0]) * tm
    my = S[segi, 1] + (S[segi, 3] - S[segi, 1]) * tm
    mloc = locate_batch(mx, my, other)
    mo = so[segi]
    for code, key in ((_INT, "in1"), (_BND, "on1"), (_EXT, "out1")):
        hit = mloc == code
        if hit.any():
            np.logical_or.at(res[key], mo[hit], True)

    # ---- touch points: interior split points + every vertex, with the
    # scalar's exact endpoint-set membership for the boundary/interior split
    if len(ps):
        spx = S[ps, 0] + (S[ps, 2] - S[ps, 0]) * pt
        spy = S[ps, 1] + (S[ps, 3] - S[ps, 1]) * pt
        spo = so[ps]
        spe = np.zeros(len(ps), dtype=bool)
        for i in np.unique(spo):
            bp = bpts_by_owner[int(i)]
            if len(bp):
                m = spo == i
                acc = np.zeros(int(m.sum()), dtype=bool)
                for qx, qy in bp:
                    acc |= _near_pt_batch(spx[m], spy[m], float(qx), float(qy))
                spe[m] = acc
        Px = np.concatenate([spx, V[:, 0]])
        Py = np.concatenate([spy, V[:, 1]])
        Po = np.concatenate([spo, vo])
        Pe = np.concatenate([spe, ve])
    else:
        Px, Py, Po, Pe = V[:, 0], V[:, 1], vo, ve
    ploc = locate_batch(Px, Py, other)
    for code, key_i, key_b in (
        (_INT, "pti_i", "pti_b"),
        (_BND, "ptb_i", "ptb_b"),
        (_EXT, "pte_i", "pte_b"),
    ):
        for endflag, key in ((False, key_i), (True, key_b)):
            hit = (ploc == code) & (Pe == endflag)
            if hit.any():
                np.logical_or.at(res[key], Po[hit], True)
    return res


def lineal_predicate_batch(
    lines: list[Geometry],
    other: Geometry,
    predicate: str,
    lineal_side: str = "left",
) -> np.ndarray:
    """Join predicates for a batch of LINEAL geometries vs ONE partner.

    lineal_side="left": pred(line_i, other) with other areal or lineal.
    lineal_side="right": pred(other, line_i) with other AREAL (the
    polygons-join-lines direction, grouped by the polygon side).

    PRECONDITION: every lineal geometry involved must have at least one
    live (non-zero-length) segment — a LINESTRING of identical points is
    effectively 0-dim and classifies as empty here; the join routes such
    rows to the scalar kernel (spatial_join has_segs guard).

    DE-9IM cells from the classification flags (f = flags of line vs other):
      II = in1|pti_i, IB = on1|ptb_i, IE = out1|pte_i,
      BI = pti_b, BB = ptb_b, BE = pte_b — and intersects/within/crosses/
      touches/contains/covers read exactly the cells algorithms.relate
      would produce (the B-direction pass adds nothing for these cells:
      every isolated contact point is a split point or vertex of the line,
      so the A-pass already locates it)."""
    n = len(lines)
    f = _classify_lineal_batch(lines, other)
    II = f["in1"] | f["pti_i"]
    IB = f["on1"] | f["ptb_i"]
    IE = f["out1"] | f["pte_i"]
    BI = f["pti_b"]
    BB = f["ptb_b"]
    BE = f["pte_b"]
    inter = II | IB | BI | BB
    other_areal = bool(alg._polygons_of(other))
    if predicate == "intersects":
        return inter
    if predicate == "touches":
        return inter & ~II
    if lineal_side == "right":
        # pred(areal other, line_i)
        if predicate == "contains":
            return II & ~IE & ~BE
        if predicate == "covers":
            return inter & ~IE & ~BE
        if predicate == "crosses":
            return II & IE
        # within/overlaps: a 2-D interior never fits inside a 1-D closure
        return np.zeros(n, dtype=bool)
    # pred(line_i, other)
    if predicate == "within":
        return II & ~IE & ~BE
    if predicate == "crosses":
        if other_areal:
            return II & IE  # dim(line) < dim(area): II and IE non-empty
        # line x line: II must be exactly dim 0 (isolated interior contacts,
        # no collinear overlap)
        return f["pti_i"] & ~f["in1"]
    if predicate == "overlaps":
        if other_areal:
            return np.zeros(n, dtype=bool)  # equal-dim only
        # line x line: II dim 1 and each side has interior outside the other;
        # EI needs the reversed classification — only on the few candidates
        out = np.zeros(n, dtype=bool)
        for i in np.nonzero(f["in1"] & IE)[0]:
            rf = _classify_lineal_batch([other], lines[i])
            out[i] = bool(rf["out1"][0] | rf["pte_i"][0])
        return out
    if predicate in ("contains", "covers"):
        if other_areal:
            return np.zeros(n, dtype=bool)  # a line never covers an area
        # line x line containment: reversed classification per candidate
        # (cheap bounds prefilter: other must fit in the candidate's bounds)
        out = np.zeros(n, dtype=bool)
        ob = other.bounds()
        for i in range(n):
            lb = lines[i].bounds()
            if ob[0] < lb[0] or ob[1] < lb[1] or ob[2] > lb[2] or ob[3] > lb[3]:
                continue
            rf = _classify_lineal_batch([other], lines[i])
            rII = rf["in1"][0] | rf["pti_i"][0]
            rIB = rf["on1"][0] | rf["ptb_i"][0]
            rIE = rf["out1"][0] | rf["pte_i"][0]
            rBI = rf["pti_b"][0]
            rBB = rf["ptb_b"][0]
            rBE = rf["pte_b"][0]
            if predicate == "contains":
                out[i] = bool(rII & ~rIE & ~rBE)
            else:
                out[i] = bool((rII | rIB | rBI | rBB) & ~rIE & ~rBE)
        return out
    raise ValueError(f"lineal_predicate_batch: unsupported predicate {predicate}")


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    return alg.haversine(lon1, lat1, lon2, lat2)


def points_xy(wkbs) -> tuple[np.ndarray, np.ndarray]:
    pts = points_from_wkb(wkbs)
    return pts[:, 0], pts[:, 1]


def encode_points(xs, ys) -> list[bytes]:
    return wkb_mod.points_to_wkb(np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64))

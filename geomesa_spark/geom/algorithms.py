"""Planar geometry algorithms: DE-9IM relate, predicates, measures.

Semantics follow the reference's JTS-backed UDFs
(geomesa-spark-jts/.../udf/SpatialRelationFunctions.scala:24-59): DE-9IM
predicates, cartesian measures in degrees, plus spherical measures in meters.
Everything here is pure numpy/python and runs inside Arrow pandas-UDF batches.
"""

from __future__ import annotations

import math

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
    linestring,
    multipolygon,
    point,
    polygon,
)

# spatial4j / reference earth mean radius (km): GeometricProcessingFunctions.scala:60
EARTH_MEAN_RADIUS_M = 6371008.7714
EXTERIOR, BOUNDARY, INTERIOR = 2, 1, 0  # locate codes
_EPS = 1e-12


# ----------------------------------------------------------------- primitives


def _orient(ax, ay, bx, by, cx, cy) -> float:
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _near_pt(px, py, qx, qy) -> bool:
    """Scale-relative coordinate equality: computed intersection points land
    ulps off the exact vertex they hit, and exact == would then misclassify
    a touch at a line ENDPOINT as an interior contact (a spurious 'crosses').
    Both the scalar and the batch kernels use this same tolerance."""
    scale = max(1.0, abs(px), abs(py), abs(qx), abs(qy))
    return abs(px - qx) <= _EPS * scale and abs(py - qy) <= _EPS * scale


def _on_segment(px, py, ax, ay, bx, by) -> bool:
    if abs(_orient(ax, ay, bx, by, px, py)) > _EPS * max(
        1.0, abs(ax), abs(ay), abs(bx), abs(by), abs(px), abs(py)
    ):
        return False
    return (
        min(ax, bx) - _EPS <= px <= max(ax, bx) + _EPS
        and min(ay, by) - _EPS <= py <= max(ay, by) + _EPS
    )


def _seg_params(a, b, segs):
    """Intersection parameters of segment a->b against an (m,4) seg array.

    Returns sorted unique t values in (0,1) where a->b crosses or touches any
    segment, including collinear-overlap interval endpoints."""
    ts: list[float] = []
    ax, ay = a
    bx, by = b
    dx, dy = bx - ax, by - ay
    for sx1, sy1, sx2, sy2 in segs:
        d1x, d1y = sx2 - sx1, sy2 - sy1
        denom = dx * d1y - dy * d1x
        o1 = _orient(ax, ay, bx, by, sx1, sy1)
        o2 = _orient(ax, ay, bx, by, sx2, sy2)
        o3 = _orient(sx1, sy1, sx2, sy2, ax, ay)
        o4 = _orient(sx1, sy1, sx2, sy2, bx, by)
        scale = max(1.0, abs(ax), abs(ay), abs(bx), abs(by), abs(sx1), abs(sy1))
        eps = _EPS * scale
        if abs(denom) > eps:
            t = (
                ((sx1 - ax) * d1y - (sy1 - ay) * d1x) / denom
                if abs(denom) > 0
                else None
            )
            u_num = (sx1 - ax) * dy - (sy1 - ay) * dx
            u = u_num / denom
            if t is not None and -1e-12 <= t <= 1 + 1e-12 and -1e-12 <= u <= 1 + 1e-12:
                ts.append(min(max(t, 0.0), 1.0))
        else:
            # parallel; collinear?
            if abs(o1) <= eps and abs(o2) <= eps:
                # project seg endpoints onto a->b parameter space
                L2 = dx * dx + dy * dy
                if L2 > 0:
                    for px, py in ((sx1, sy1), (sx2, sy2)):
                        t = ((px - ax) * dx + (py - ay) * dy) / L2
                        if -1e-12 <= t <= 1 + 1e-12:
                            ts.append(min(max(t, 0.0), 1.0))
    # merge near-equal params: one crossing can split the segment twice at
    # ulp-different t (adjacent edges through a shared vertex, doubled
    # out-and-back geometry) — the micro-subsegment between them would
    # classify as a spurious 1-dim contact
    merged: list[float] = []
    for t in sorted(set(ts)):
        if merged and t - merged[-1] <= 1e-12:
            continue
        merged.append(t)
    return [t for t in merged if 1e-12 < t < 1 - 1e-12]


def _point_in_ring(px, py, ring: np.ndarray) -> int:
    """0 interior, 1 boundary, 2 exterior (crossing number w/ boundary test)."""
    n = len(ring)
    inside = False
    for i in range(n - 1):
        ax, ay = ring[i]
        bx, by = ring[i + 1]
        if _on_segment(px, py, ax, ay, bx, by):
            return BOUNDARY
        if (ay > py) != (by > py):
            xint = ax + (py - ay) * (bx - ax) / (by - ay)
            if px < xint:
                inside = not inside
    return INTERIOR if inside else EXTERIOR


def _locate_in_polygon(px, py, rings) -> int:
    loc = _point_in_ring(px, py, np.asarray(rings[0]))
    if loc != INTERIOR:
        return loc
    for hole in rings[1:]:
        hl = _point_in_ring(px, py, np.asarray(hole))
        if hl == BOUNDARY:
            return BOUNDARY
        if hl == INTERIOR:
            return EXTERIOR
    return INTERIOR


def _line_segments(g: Geometry) -> np.ndarray:
    """All segments of a geometry's 1D parts / polygon boundaries as (m,4)."""
    segs = []
    for arr in _ring_arrays(g):
        a = np.asarray(arr)
        if len(a) >= 2:
            segs.append(np.hstack([a[:-1, :2], a[1:, :2]]))
    return np.concatenate(segs) if segs else np.empty((0, 4))


def _ring_arrays(g: Geometry) -> list[np.ndarray]:
    """Coordinate arrays of all linear components (lines or polygon rings)."""
    t = g.gtype
    if t == LINESTRING:
        return [g.coords] if len(g.coords) else []
    if t == MULTILINESTRING:
        return [np.asarray(l) for l in g.coords]
    if t == POLYGON:
        return [np.asarray(r) for r in g.coords]
    if t == MULTIPOLYGON:
        return [np.asarray(r) for p in g.coords for r in p]
    if t == GEOMETRYCOLLECTION:
        return [a for sub in g.coords for a in _ring_arrays(sub)]
    return []


def _polygons_of(g: Geometry) -> list[list[np.ndarray]]:
    t = g.gtype
    if t == POLYGON:
        return [g.coords] if g.coords else []
    if t == MULTIPOLYGON:
        return list(g.coords)
    if t == GEOMETRYCOLLECTION:
        return [p for sub in g.coords for p in _polygons_of(sub)]
    return []


def _points_of(g: Geometry) -> np.ndarray:
    t = g.gtype
    if t == POINT:
        return np.empty((0, 2)) if g.is_empty() else np.asarray(g.coords[:2]).reshape(1, 2)
    if t == MULTIPOINT:
        return np.asarray(g.coords)[:, :2] if len(g.coords) else np.empty((0, 2))
    if t == GEOMETRYCOLLECTION:
        arrs = [_points_of(sub) for sub in g.coords]
        arrs = [a for a in arrs if len(a)]
        return np.concatenate(arrs) if arrs else np.empty((0, 2))
    return np.empty((0, 2))


def _lines_of(g: Geometry) -> list[np.ndarray]:
    t = g.gtype
    if t == LINESTRING:
        return [np.asarray(g.coords)] if len(g.coords) else []
    if t == MULTILINESTRING:
        return [np.asarray(l) for l in g.coords]
    if t == GEOMETRYCOLLECTION:
        return [a for sub in g.coords for a in _lines_of(sub)]
    return []


def _line_boundary_points(g: Geometry) -> np.ndarray:
    """OGC Mod2BoundaryNodeRule boundary of a (multi)line: a point is
    boundary iff it is an endpoint of an ODD number of non-closed members —
    two members chained end-to-end make their junction INTERIOR (JTS
    Mod2BoundaryNodeRule; found as an engine gap by the exact rational
    oracle, tests/exact_relate.py). Exact coordinate equality joins the
    counts, as in JTS node equality."""
    counts: dict = {}
    for arr in _lines_of(g):
        if len(arr) >= 2 and not np.array_equal(arr[0], arr[-1]):
            for p in (arr[0, :2], arr[-1, :2]):
                key = (float(p[0]), float(p[1]))
                counts[key] = counts.get(key, 0) + 1
    pts = [k for k, c in counts.items() if c % 2 == 1]
    return np.array(pts) if pts else np.empty((0, 2))


# --------------------------------------------------------------------- locate


def locate(px: float, py: float, g: Geometry) -> int:
    """Locate a point against a geometry (union semantics for multis)."""
    t = g.gtype
    if t == POINT:
        if g.is_empty():
            return EXTERIOR
        return INTERIOR if (px == g.coords[0] and py == g.coords[1]) else EXTERIOR
    if t == MULTIPOINT:
        for c in g.coords:
            if px == c[0] and py == c[1]:
                return INTERIOR
        return EXTERIOR
    if t in (LINESTRING, MULTILINESTRING):
        bpts = _line_boundary_points(g)
        for bx, by in bpts:
            if _near_pt(px, py, bx, by):
                return BOUNDARY
        for ax, ay, bx, by in _line_segments(g):
            if _on_segment(px, py, ax, ay, bx, by):
                return INTERIOR
        return EXTERIOR
    if t in (POLYGON, MULTIPOLYGON):
        best = EXTERIOR
        for rings in _polygons_of(g):
            loc = _locate_in_polygon(px, py, rings)
            if loc == INTERIOR:
                return INTERIOR
            if loc == BOUNDARY:
                best = BOUNDARY
        return best
    if t == GEOMETRYCOLLECTION:
        # flatten into dimension families rather than recursing per member:
        # recursion applied the line boundary-endpoint rule PER MEMBER, so a
        # point that is an endpoint of one line member but interior to
        # another located INTERIOR for the GC yet BOUNDARY for the
        # equivalent MULTILINESTRING (same part list) — an internal
        # inconsistency found by the r7 GC lattice sweep. Flattened families
        # make locate(GC) == locate(equivalent MULTI) by construction,
        # which the join's point fast path (locate_batch on GC partners)
        # relies on.
        best = EXTERIOR
        for c in _points_of(g):
            if px == c[0] and py == c[1]:
                return INTERIOR
        lines = _lines_of(g)
        if lines:
            loc = locate(px, py, Geometry(MULTILINESTRING, lines))
            if loc == INTERIOR:
                return INTERIOR
            best = min(best, loc)
        polys = _polygons_of(g)
        if polys:
            loc = locate(px, py, Geometry(MULTIPOLYGON, polys))
            if loc == INTERIOR:
                return INTERIOR
            best = min(best, loc)
        return best
    return EXTERIOR


def representative_point(g: Geometry) -> tuple[float, float]:
    """A point guaranteed in the interior (polygons) / on the geometry."""
    t = g.gtype
    if t == POINT:
        return float(g.coords[0]), float(g.coords[1])
    if t == MULTIPOINT:
        return float(g.coords[0][0]), float(g.coords[0][1])
    if t in (LINESTRING, MULTILINESTRING):
        arr = _lines_of(g)[0]
        return (
            float((arr[0][0] + arr[1][0]) / 2),
            float((arr[0][1] + arr[1][1]) / 2),
        )
    polys = _polygons_of(g)
    if polys:
        # scanline between consecutive y-levels of ALL rings (shell + holes):
        # a single shell-midline scan can land entirely inside a hole (e.g. a
        # centered hole spanning the shell's y-midline) and previously fell
        # back to the centroid — which sits in that same hole
        for rings in polys:
            allv = np.concatenate([np.asarray(r) for r in rings])
            ys = np.unique(allv[:, 1])
            scan_ys = (
                [(ys[i] + ys[i + 1]) / 2.0 for i in range(len(ys) - 1)]
                if len(ys) >= 2
                else [float(ys[0])]
            )
            for yscan in scan_ys:
                xs = []
                for r in rings:
                    r = np.asarray(r)
                    for i in range(len(r) - 1):
                        ay, by = r[i, 1], r[i + 1, 1]
                        if (ay > yscan) != (by > yscan):
                            xs.append(
                                r[i, 0]
                                + (yscan - ay) * (r[i + 1, 0] - r[i, 0]) / (by - ay)
                            )
                xs.sort()
                for j in range(0, len(xs) - 1, 2):
                    mx = (xs[j] + xs[j + 1]) / 2.0
                    if _locate_in_polygon(mx, yscan, rings) == INTERIOR:
                        return float(mx), float(yscan)
        c = np.asarray(polys[0][0])[:-1].mean(axis=0)
        return float(c[0]), float(c[1])
    if t == GEOMETRYCOLLECTION and g.coords:
        return representative_point(g.coords[0])
    raise ValueError("empty geometry has no representative point")


# -------------------------------------------------------------------- DE-9IM


def _classify_segments_vs(
    g_segsrc: Geometry,
    other: Geometry,
    extra_segs: np.ndarray | None = None,
    mids: list | None = None,
):
    """Split every segment of g's linear parts at crossings with `other`'s
    linear work (segments), classify each sub-seg midpoint against `other`.

    Returns (has_in, has_on, has_out, touch_pts) where touch_pts are isolated
    split points (potential 0-dim intersections).

    extra_segs: additional (n,4) segments to SPLIT at (but not classify
    against) — used by relate() on heterogeneous GCs so a part's subsegments
    never straddle a sibling-part coverage transition. mids (if given)
    collects (mx, my, loc) per classified subsegment midpoint so the caller
    can re-attribute rows by sibling-part coverage."""
    osegs = _line_segments(other)
    if extra_segs is not None and len(extra_segs):
        osegs = (
            np.vstack([osegs, extra_segs]) if len(osegs) else np.asarray(extra_segs)
        )
    opts = _points_of(other)
    odim = other.dimension()
    has_in = has_on = has_out = False
    touch_pts: list[tuple[float, float]] = []
    for arr in _ring_arrays(g_segsrc):
        a = np.asarray(arr)
        for i in range(len(a) - 1):
            p0, p1 = a[i, :2], a[i + 1, :2]
            if p0[0] == p1[0] and p0[1] == p1[1]:
                # zero-length segment (duplicated vertex): a 0-dim feature,
                # not a 1-dim piece — classifying its "midpoint" would
                # fabricate a spurious has_in. Its point still contributes
                # through touch_pts below.
                touch_pts.append((float(p0[0]), float(p0[1])))
                continue
            ts = _seg_params(p0, p1, osegs)
            # split at other's 0-dim features lying on this segment too
            dx, dy = p1[0] - p0[0], p1[1] - p0[1]
            L2 = dx * dx + dy * dy
            for qx, qy in opts:
                if L2 > 0 and _on_segment(qx, qy, p0[0], p0[1], p1[0], p1[1]):
                    t = ((qx - p0[0]) * dx + (qy - p0[1]) * dy) / L2
                    if 1e-12 < t < 1 - 1e-12:
                        ts.append(t)
            uniq: list[float] = []
            for t in sorted(set(ts)):
                if uniq and t - uniq[-1] <= 1e-12:
                    continue
                uniq.append(t)
            ts = [0.0] + uniq + [1.0]
            for j in range(len(ts) - 1):
                t0, t1 = ts[j], ts[j + 1]
                mx = p0[0] + (p1[0] - p0[0]) * (t0 + t1) / 2
                my = p0[1] + (p1[1] - p0[1]) * (t0 + t1) / 2
                loc = locate(mx, my, other)
                if loc == INTERIOR:
                    if odim >= 1:
                        has_in = True
                        if mids is not None:
                            mids.append((mx, my, INTERIOR))
                elif loc == BOUNDARY:
                    if odim >= 1:
                        has_on = True
                        if mids is not None:
                            mids.append((mx, my, BOUNDARY))
                else:
                    has_out = True
                    if mids is not None:
                        mids.append((mx, my, EXTERIOR))
            for t in ts[1:-1]:
                touch_pts.append(
                    (p0[0] + (p1[0] - p0[0]) * t, p0[1] + (p1[1] - p0[1]) * t)
                )
            touch_pts.append((float(p0[0]), float(p0[1])))
        if len(a):
            touch_pts.append((float(a[-1][0]), float(a[-1][1])))
    return has_in, has_on, has_out, touch_pts


def _dim(g: Geometry) -> int:
    return g.dimension()


def relate(a: Geometry, b: Geometry) -> str:
    """DE-9IM matrix string, e.g. 'T*F**FFF*' style with actual dims 0/1/2/F.

    Covers point/line/polygon and their multis (union semantics). Built on
    segment splitting + point location rather than full topology — exact for
    the reference's test fixtures (axis-aligned and generic-position inputs).

    Approximation posture (ADVICE r8): hole-vs-sibling interior-overlap
    evidence (_hole_exterior_overlap) accepts a witness only when the
    sibling-subtracted overlap area exceeds 1e-12 — a true EI witness whose
    residual area is below that tolerance (an adversarial near-sliver fill
    of a hole by a sibling part) is deliberately not claimed, consistent
    with the knife-edge tolerance used throughout the splitter.
    """
    M = [["F"] * 3 for _ in range(3)]
    M[2][2] = "2"
    if a.is_empty() or b.is_empty():
        if not a.is_empty():
            M[0][2] = str(_dim(a))
            bd = _boundary_dim(a)
            M[1][2] = str(bd) if bd >= 0 else "F"
        if not b.is_empty():
            M[2][0] = str(_dim(b))
            bd = _boundary_dim(b)
            M[2][1] = str(bd) if bd >= 0 else "F"
        return "".join(M[0]) + "".join(M[1]) + "".join(M[2])

    da, db = _dim(a), _dim(b)

    def setmax(i, j, v):
        cur = M[i][j]
        if cur == "F" or (v != "F" and int(v) > int(cur)):
            M[i][j] = v

    apts, bpts = _points_of(a), _points_of(b)
    a_has_line = bool(_lines_of(a)) or bool(_polygons_of(a))
    b_has_line = bool(_lines_of(b)) or bool(_polygons_of(b))

    # --- A-point components vs B
    for px, py in apts:
        loc = locate(px, py, b)
        setmax(0, loc, "0")
    # --- B-point components vs A
    for px, py in bpts:
        loc = locate(px, py, a)
        setmax(loc, 0, "0")

    # boundary point sets (lines) for interior/boundary distinction of lines
    # — membership is eps-tolerant (_near_pt): split points computed by the
    # segment-intersection math land ulps off the exact endpoint they hit
    a_bpts = [(float(x), float(y)) for x, y in _line_boundary_points(a)]
    b_bpts = [(float(x), float(y)) for x, y in _line_boundary_points(b)]

    def _in_bpts(px, py, bpts) -> bool:
        return any(_near_pt(px, py, qx, qy) for qx, qy in bpts)

    a_is_areal = bool(_polygons_of(a))
    b_is_areal = bool(_polygons_of(b))

    def _linework_pass(src, dst, cell, src_bpts, dst_is_areal, dst_has_line):
        """Classify src's linework vs dst, attributing DE-9IM rows per src
        PART: polygon rings are src-BOUNDARY work, line members are
        src-INTERIOR work. Decomposed (r8) because the old monolithic pass
        treated ALL linework of an areal-bearing GC as boundary — a dst
        edge riding the GC's LINE member then upgraded II to '2' though
        only the 1-dim line was hit (the gc lattice sweep caught it).
        Under min-locate union semantics a boundary point covered by the
        SIBLING part's interior demotes to interior, and subsegments are
        additionally split at sibling features so no subsegment straddles a
        coverage transition. The 2-dim upgrades (ring strictly inside /
        outside dst) require dst's AREAL interior, not the union interior."""
        polys = _polygons_of(src)
        lines = _lines_of(src)
        src_parts = []
        if polys:
            src_parts.append((True, Geometry(MULTIPOLYGON, polys)))
        if lines:
            src_parts.append(
                (False, Geometry(MULTILINESTRING, [np.asarray(l) for l in lines]))
            )
        het = len(src_parts) == 2
        dst_polys = _polygons_of(dst)
        dst_het = bool(dst_polys) and bool(_lines_of(dst))
        dst_areal_ghost = Geometry(MULTIPOLYGON, dst_polys) if dst_het else None
        for part_is_areal, part in src_parts:
            sibling = None
            if het:
                sibling = src_parts[1][1] if part_is_areal else src_parts[0][1]
            extra = _line_segments(sibling) if sibling is not None else None
            mids: list = []
            _, _, _, pts = _classify_segments_vs(
                part, dst, extra_segs=extra, mids=mids
            )

            def row_at(px, py):
                if part_is_areal:
                    if sibling is not None and locate(px, py, sibling) == INTERIOR:
                        return 0
                    return 1
                r = 1 if _in_bpts(px, py, src_bpts) else 0
                if r == 1 and sibling is not None and locate(px, py, sibling) == INTERIOR:
                    r = 0
                return r

            for mx, my, loc in mids:
                if part_is_areal:
                    row = (
                        0
                        if sibling is not None
                        and locate(mx, my, sibling) == INTERIOR
                        else 1
                    )
                else:
                    row = 0  # a subsegment midpoint is never a mod-2 endpoint
                if loc == INTERIOR:
                    cell(row, 0, "1")
                    if part_is_areal and dst_is_areal and (
                        not dst_het
                        or locate(mx, my, dst_areal_ghost) == INTERIOR
                    ):
                        # ring strictly inside dst's AREAL interior: the
                        # polygon interior near the ring overlaps dst's
                        cell(0, 0, "2")
                elif loc == BOUNDARY:
                    cell(row, 1 if dst_is_areal or dst_has_line else 0, "1")
                else:
                    cell(row, 2, "1")
                    if part_is_areal:
                        # ring in dst's (open) exterior: polygon interior
                        # near the ring reaches it too
                        cell(0, 2, "2")
            for px, py in pts:
                loc = locate(px, py, dst)
                r = row_at(px, py)
                if loc == INTERIOR:
                    cell(r, 0, "0")
                elif loc == BOUNDARY:
                    cell(r, 1, "0")
                else:
                    cell(r, 2, "0")

    if a_has_line:
        _linework_pass(
            a, b, lambda r, c, v: setmax(r, c, v), a_bpts, b_is_areal, b_has_line
        )
    if b_has_line:
        _linework_pass(
            b, a, lambda r, c, v: setmax(c, r, v), b_bpts, a_is_areal, a_has_line
        )

    # areal-areal interior evidence from per-part representative points
    # (no-boundary-crossing cases): a part's interior rep locating INTERIOR
    # of the other proves II; locating EXTERIOR proves IE (resp. EI) — e.g.
    # a polygon exactly filling the other's HOLE shares its whole boundary
    # yet has interior∩exterior = 2, which no boundary classification or
    # area comparison can see.
    if a_is_areal and b_is_areal:
        for rings in _polygons_of(a):
            rx, ry = representative_point(Geometry(POLYGON, rings))
            loc = locate(rx, ry, b)
            if loc == INTERIOR:
                M[0][0] = "2"
            elif loc == EXTERIOR:
                setmax(0, 2, "2")
        for rings in _polygons_of(b):
            rx, ry = representative_point(Geometry(POLYGON, rings))
            loc = locate(rx, ry, a)
            if loc == INTERIOR:
                M[0][0] = "2"
            elif loc == EXTERIOR:
                setmax(2, 0, "2")
        # holes: one side's interior can reach the other's EXTERIOR through
        # a hole whose interior it overlaps with ZERO boundary/vertex/area
        # evidence (e.g. a rect covering a hole while sharing two of its
        # edges — found by the exact rational oracle). For a SINGLE valid
        # polygon the hole interior IS exterior, so hole∩B II (depth-1
        # recursion: holes have no holes) proves EI directly. But under
        # multi-part union semantics a SIBLING part can cover the hole
        # (hole interior ≠ holder exterior): there the overlap region only
        # proves EI if it survives subtraction of the WHOLE holder —
        # (hole ∩ other) \ holder must keep positive area.
        def _hole_exterior_overlap(holder: Geometry, other: Geometry) -> bool:
            parts = _polygons_of(holder)
            obx0, oby0, obx1, oby1 = other.bounds()
            for rings in parts:
                for hole in rings[1:]:
                    h = np.asarray(hole)
                    # bbox pre-check: a hole disjoint from `other` can't
                    # contribute interior overlap — skip the recursive relate
                    if (h[:, 0].max() < obx0 or obx1 < h[:, 0].min()
                            or h[:, 1].max() < oby0 or oby1 < h[:, 1].min()):
                        continue
                    hole_poly = Geometry(POLYGON, [h])
                    if relate(hole_poly, other)[0] != "2":
                        continue
                    if len(parts) == 1:
                        return True
                    overlap = intersection_areal(hole_poly, other)
                    if overlap.is_empty():
                        continue
                    if area(difference_areal(overlap, holder)) > 1e-12:
                        return True
            return False

        if M[2][0] != "2" and _hole_exterior_overlap(a, b):
            setmax(2, 0, "2")
        if M[0][2] != "2" and _hole_exterior_overlap(b, a):
            setmax(0, 2, "2")
    if a_is_areal:
        # A has 2D interior; does it reach B's exterior? if B not areal → yes
        if not b_is_areal:
            M[0][2] = "2"
        elif M[1][2] != "F" or _area_exceeds(a, b):
            M[0][2] = "2"
        # B's boundary/interior vs A exterior symmetric below
        if not b_is_areal:
            # B (0/1-dim) inside A entirely? EI/EB follow from B-side pass above
            pass
    if b_is_areal:
        if not a_is_areal:
            M[2][0] = "2"
        elif M[2][1] != "F" or _area_exceeds(b, a):
            M[2][0] = "2"

    # lineal IE/EI when not areal: line sticking out handled in has_out above.
    return "".join(M[0]) + "".join(M[1]) + "".join(M[2])


def _boundary_dim(g: Geometry) -> int:
    if _polygons_of(g):
        return 1
    if _lines_of(g):
        return 0 if len(_line_boundary_points(g)) else -1
    return -1


def _area_exceeds(a: Geometry, b: Geometry) -> bool:
    """Heuristic: does areal A extend beyond areal B (A ⊄ closure(B))?

    True if any vertex of A is strictly outside B, or A's boundary has a
    sub-segment outside B (already reflected by caller), or area(A)>area(B)
    with shared boundary."""
    for rings in _polygons_of(a):
        for r in rings:
            for x, y in np.asarray(r)[:-1]:
                if locate(float(x), float(y), b) == EXTERIOR:
                    return True
    return area(a) > area(b) + 1e-12


_PRED_PATTERNS = {
    "equals": "T*F**FFF*",
    "disjoint": "FF*FF****",
    "within": "T*F**F***",
    "touches": None,  # special
    "crosses": None,  # dim dependent
    "overlaps": None,
}


def _matches(matrix: str, pattern: str) -> bool:
    for m, p in zip(matrix, pattern):
        if p == "*":
            continue
        if p == "T":
            if m == "F":
                return False
        elif p == "F":
            if m != "F":
                return False
        else:
            if m != p:
                return False
    return True


def intersects(a: Geometry, b: Geometry) -> bool:
    # cheap bbox reject
    ab, bb = a.bounds(), b.bounds()
    if ab[2] < bb[0] or bb[2] < ab[0] or ab[3] < bb[1] or bb[3] < ab[1]:
        return False
    return not _matches(relate(a, b), "FF*FF****")


def disjoint(a, b) -> bool:
    return not intersects(a, b)


def contains(a: Geometry, b: Geometry) -> bool:
    return within(b, a)


def within(a: Geometry, b: Geometry) -> bool:
    ab, bb = a.bounds(), b.bounds()
    if ab[0] < bb[0] or ab[2] > bb[2] or ab[1] < bb[1] or ab[3] > bb[3]:
        return False
    return _matches(relate(a, b), "T*F**F***")


def covers(a: Geometry, b: Geometry) -> bool:
    m = relate(b, a)  # covered-by from b's perspective
    return any(
        _matches(m, p)
        for p in ("T*F**F***", "*TF**F***", "**FT*F***", "**F*TF***")
    )


def touches(a: Geometry, b: Geometry) -> bool:
    m = relate(a, b)
    return m[0] == "F" and (m[1] != "F" or m[3] != "F" or m[4] != "F")


def crosses(a: Geometry, b: Geometry) -> bool:
    m = relate(a, b)
    da, db = a.dimension(), b.dimension()
    if da < db:
        return m[0] != "F" and m[2] != "F"
    if da > db:
        return m[0] != "F" and m[6] != "F"
    if da == 1 and db == 1:
        return m[0] == "0"
    return False


def overlaps(a: Geometry, b: Geometry) -> bool:
    m = relate(a, b)
    da, db = a.dimension(), b.dimension()
    if da != db:
        return False
    if da == 1:
        return m[0] == "1" and m[2] != "F" and m[6] != "F"
    return m[0] != "F" and m[2] != "F" and m[6] != "F"


def equals(a: Geometry, b: Geometry) -> bool:
    return _matches(relate(a, b), "T*F**FFF*")


def relate_bool(a: Geometry, b: Geometry, pattern: str) -> bool:
    return _matches(relate(a, b), pattern)


# ------------------------------------------------------------------- measures


def area(g: Geometry) -> float:
    total = 0.0
    for rings in _polygons_of(g):
        for k, r in enumerate(rings):
            a = _ring_area(np.asarray(r))
            total += abs(a) if k == 0 else -abs(a)
    return total


def _ring_area(r: np.ndarray) -> float:
    if len(r) < 3:
        return 0.0
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def length(g: Geometry) -> float:
    total = 0.0
    for arr in _ring_arrays(g):
        a = np.asarray(arr)
        if len(a) >= 2:
            d = np.diff(a[:, :2], axis=0)
            total += float(np.sqrt((d**2).sum(axis=1)).sum())
    return total


def centroid(g: Geometry) -> Geometry:
    polys = _polygons_of(g)
    if polys:
        cx = cy = A = 0.0
        for rings in polys:
            for k, r in enumerate(rings):
                r = np.asarray(r)
                if len(r) < 3:
                    continue
                x, y = r[:, 0], r[:, 1]
                cross = x[:-1] * y[1:] - x[1:] * y[:-1]
                a = 0.5 * cross.sum()
                sgn = 1.0 if k == 0 else -1.0
                a = abs(a) * sgn
                if abs(a) < 1e-300:
                    continue
                ccx = float(((x[:-1] + x[1:]) * cross).sum()) / (6 * (0.5 * cross.sum()))
                ccy = float(((y[:-1] + y[1:]) * cross).sum()) / (6 * (0.5 * cross.sum()))
                cx += ccx * a
                cy += ccy * a
                A += a
        if A != 0:
            return point(cx / A, cy / A)
    lines = _lines_of(g)
    if lines:
        sx = sy = L = 0.0
        for arr in lines:
            a = np.asarray(arr)
            d = np.sqrt((np.diff(a[:, :2], axis=0) ** 2).sum(axis=1))
            mid = (a[:-1, :2] + a[1:, :2]) / 2
            sx += float((mid[:, 0] * d).sum())
            sy += float((mid[:, 1] * d).sum())
            L += float(d.sum())
        if L > 0:
            return point(sx / L, sy / L)
    pts = _points_of(g)
    if len(pts):
        return point(float(pts[:, 0].mean()), float(pts[:, 1].mean()))
    allc = g._all_coords()
    if len(allc):
        return point(float(allc[:, 0].mean()), float(allc[:, 1].mean()))
    return empty(POINT)


def _pt_seg_dist_sq(px, py, ax, ay, bx, by):
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 == 0:
        return (px - ax) ** 2 + (py - ay) ** 2, ax, ay
    t = ((px - ax) * dx + (py - ay) * dy) / L2
    t = min(1.0, max(0.0, t))
    cx, cy = ax + t * dx, ay + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2, cx, cy


def closest_points(a: Geometry, b: Geometry) -> tuple[tuple[float, float], tuple[float, float]]:
    """(point-on-a, point-on-b) minimizing cartesian distance."""
    if intersects(a, b):
        # any shared point
        pa = _points_of(a)
        for px, py in pa:
            if locate(px, py, b) != EXTERIOR:
                return (float(px), float(py)), (float(px), float(py))
        # find an intersection point via segment splitting
        asegs, bsegs = _line_segments(a), _line_segments(b)
        for ax, ay, bx, by in asegs:
            ts = _seg_params((ax, ay), (bx, by), bsegs)
            for t in ts + [0.0, 1.0]:
                px, py = ax + (bx - ax) * t, ay + (by - ay) * t
                if locate(px, py, b) != EXTERIOR:
                    return (px, py), (px, py)
        rx, ry = representative_point(a)
        if locate(rx, ry, b) != EXTERIOR:
            return (rx, ry), (rx, ry)
        rx, ry = representative_point(b)
        return (rx, ry), (rx, ry)
    best = (math.inf, None, None)
    a_feats = _all_features(a)
    b_feats = _all_features(b)
    for fa in a_feats:
        for fb in b_feats:
            d, pa, pb = _feat_dist(fa, fb)
            if d < best[0]:
                best = (d, pa, pb)
    return best[1], best[2]


def _all_features(g: Geometry):
    """Points + segments of a geometry for distance computation."""
    out = []
    pts = _points_of(g)
    for p in pts:
        out.append(("p", (float(p[0]), float(p[1]))))
    for s in _line_segments(g):
        out.append(("s", tuple(float(v) for v in s)))
    return out


def _feat_dist(fa, fb):
    ta, va = fa
    tb, vb = fb
    if ta == "p" and tb == "p":
        d = math.dist(va, vb)
        return d, va, vb
    if ta == "p" and tb == "s":
        d2, cx, cy = _pt_seg_dist_sq(va[0], va[1], *vb)
        return math.sqrt(d2), va, (cx, cy)
    if ta == "s" and tb == "p":
        d2, cx, cy = _pt_seg_dist_sq(vb[0], vb[1], *va)
        return math.sqrt(d2), (cx, cy), vb
    # segment-segment: min over endpoint-to-segment (sufficient for
    # non-crossing segments)
    best_d, best_pa, best_pb = math.inf, None, None
    ax, ay, bx, by = va
    cx, cy, dx, dy = vb
    for px, py, seg, p_on_a in (
        (ax, ay, vb, True),
        (bx, by, vb, True),
        (cx, cy, va, False),
        (dx, dy, va, False),
    ):
        d2, qx, qy = _pt_seg_dist_sq(px, py, *seg)
        d = math.sqrt(d2)
        if d < best_d:
            if p_on_a:
                best_d, best_pa, best_pb = d, (px, py), (qx, qy)
            else:
                best_d, best_pa, best_pb = d, (qx, qy), (px, py)
    return best_d, best_pa, best_pb


def distance(a: Geometry, b: Geometry) -> float:
    if intersects(a, b):
        return 0.0
    pa, pb = closest_points(a, b)
    return math.dist(pa, pb)


# ------------------------------------------------------------------ spherical


def haversine(lon1, lat1, lon2, lat2):
    """Great-circle meters on the reference's mean-radius sphere. Vectorized."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(v, dtype=np.float64)) for v in (lon1, lat1, lon2, lat2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_MEAN_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def distance_sphere(a: Geometry, b: Geometry) -> float:
    if a.gtype == POINT and b.gtype == POINT:
        return float(haversine(a.coords[0], a.coords[1], b.coords[0], b.coords[1]))
    pa, pb = closest_points(a, b)
    return float(haversine(pa[0], pa[1], pb[0], pb[1]))


def length_sphere(g: Geometry) -> float:
    """Per-segment haversine sum (SpatialRelationFunctions.scala:54-55)."""
    total = 0.0
    for arr in _lines_of(g) or _ring_arrays(g):
        a = np.asarray(arr)
        if len(a) >= 2:
            total += float(
                haversine(a[:-1, 0], a[:-1, 1], a[1:, 0], a[1:, 1]).sum()
            )
    return total


def aggregate_distance_sphere(geoms: list[Geometry]) -> float:
    """Sum of consecutive point-to-point sphere distances
    (SpatialRelationFunctions.scala:52)."""
    total = 0.0
    for g1, g2 in zip(geoms[:-1], geoms[1:]):
        total += distance_sphere(g1, g2)
    return total


# ---------------------------------------------------------------- convex hull


def convex_hull(points_xy: np.ndarray) -> Geometry:
    """Andrew's monotone chain. Returns Point/LineString/Polygon by rank."""
    pts = np.unique(np.asarray(points_xy, dtype=np.float64).reshape(-1, 2), axis=0)
    if len(pts) == 0:
        return empty(GEOMETRYCOLLECTION)
    if len(pts) == 1:
        return point(pts[0][0], pts[0][1])
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]

    def half(iterable):
        h = []
        for p in iterable:
            while len(h) >= 2 and _orient(*h[-2], *h[-1], *p) <= 0:
                h.pop()
            h.append((p[0], p[1]))
        return h

    lower = half(pts)
    upper = half(pts[::-1])
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        return linestring(hull) if len(hull) == 2 else point(*hull[0])
    # JTS returns CCW? JTS convexHull shell is CW by default spec? Use CCW.
    return polygon(hull)


# ------------------------------------------------------------------- clipping


def clip_polygon_convex(subject_rings, clip_ring: np.ndarray) -> Geometry:
    """Sutherland–Hodgman: clip subject polygon by a CONVEX ring."""
    clip = np.asarray(clip_ring, dtype=np.float64)
    if _ring_area(clip) < 0:
        clip = clip[::-1]
    out_rings = []
    for ring in subject_rings:
        poly = [tuple(p) for p in np.asarray(ring)[:-1, :2]]
        for i in range(len(clip) - 1):
            ax, ay = clip[i]
            bx, by = clip[i + 1]
            if not poly:
                break
            new = []
            for j in range(len(poly)):
                cx, cy = poly[j]
                px, py = poly[j - 1]
                c_in = _orient(ax, ay, bx, by, cx, cy) >= -_EPS
                p_in = _orient(ax, ay, bx, by, px, py) >= -_EPS
                if c_in:
                    if not p_in:
                        new.append(_line_inter(px, py, cx, cy, ax, ay, bx, by))
                    new.append((cx, cy))
                elif p_in:
                    new.append(_line_inter(px, py, cx, cy, ax, ay, bx, by))
            poly = new
        if len(poly) >= 3:
            out_rings.append(poly)
    if not out_rings:
        return empty(POLYGON)
    if len(out_rings) == 1:
        return polygon(out_rings[0])
    return multipolygon([[r] for r in [np.asarray(_close(np.array(r))) for r in out_rings]])


def _close(r: np.ndarray) -> np.ndarray:
    if len(r) and not np.array_equal(r[0], r[-1]):
        return np.vstack([r, r[:1]])
    return r


def _line_inter(px, py, cx, cy, ax, ay, bx, by):
    d1x, d1y = cx - px, cy - py
    d2x, d2y = bx - ax, by - ay
    denom = d1x * d2y - d1y * d2x
    t = ((ax - px) * d2y - (ay - py) * d2x) / denom
    return (px + t * d1x, py + t * d1y)


def _is_convex(ring: np.ndarray) -> bool:
    r = np.asarray(ring)[:, :2]
    if len(r) < 4:
        return True
    pts = r[:-1]
    n = len(pts)
    sign = 0
    for i in range(n):
        o = _orient(*pts[i], *pts[(i + 1) % n], *pts[(i + 2) % n])
        if abs(o) < _EPS:
            continue
        s = 1 if o > 0 else -1
        if sign == 0:
            sign = s
        elif s != sign:
            return False
    return True


def _flatten_singles(g: Geometry) -> list[Geometry]:
    """Explode a geometry into single-part components."""
    t = g.gtype
    if t == MULTIPOINT:
        return [point(p[0], p[1]) for p in np.asarray(g.coords)]
    if t == MULTILINESTRING:
        return [Geometry(LINESTRING, np.asarray(r)) for r in g.coords]
    if t == MULTIPOLYGON:
        return [Geometry(POLYGON, rings) for rings in g.coords]
    if t == GEOMETRYCOLLECTION:
        return [s for sub in g.coords for s in _flatten_singles(sub)]
    return [g]


def _combine(geoms: list[Geometry]) -> Geometry:
    """Non-empty components -> the simplest combined geometry (JTS overlay
    result typing): one part as-is, homogeneous dims as a multi, mixed dims
    as a GeometryCollection."""
    singles = [s for g in geoms if g is not None and not g.is_empty() for s in _flatten_singles(g)]
    if not singles:
        return empty(GEOMETRYCOLLECTION)
    if len(singles) == 1:
        return singles[0]
    dims = {s.dimension() for s in singles}
    if dims == {0}:
        return Geometry(MULTIPOINT, np.asarray([s.coords[:2] for s in singles]))
    if dims == {1}:
        return Geometry(MULTILINESTRING, [np.asarray(s.coords) for s in singles])
    if dims == {2}:
        return Geometry(MULTIPOLYGON, [list(s.coords) for s in singles])
    return Geometry(GEOMETRYCOLLECTION, singles)


def _collinear_overlap_intervals(p0, p1, osegs) -> list[tuple[float, float]]:
    """Parameter intervals of segment (p0, p1) that lie collinear-on top of
    any segment in osegs ((n,4) array), merged."""
    dx, dy = p1[0] - p0[0], p1[1] - p0[1]
    L2 = dx * dx + dy * dy
    if L2 <= 0:
        return []
    ivals = []
    for ax, ay, bx, by in osegs:
        # both endpoints of the other segment must lie on this segment's line
        if abs(_orient(p0[0], p0[1], p1[0], p1[1], ax, ay)) > _EPS:
            continue
        if abs(_orient(p0[0], p0[1], p1[0], p1[1], bx, by)) > _EPS:
            continue
        t0 = ((ax - p0[0]) * dx + (ay - p0[1]) * dy) / L2
        t1 = ((bx - p0[0]) * dx + (by - p0[1]) * dy) / L2
        lo, hi = max(0.0, min(t0, t1)), min(1.0, max(t0, t1))
        if hi - lo > 1e-12:
            ivals.append((lo, hi))
    ivals.sort()
    merged: list[tuple[float, float]] = []
    for lo, hi in ivals:
        if merged and lo <= merged[-1][1] + 1e-12:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


def intersection(a: Geometry, b: Geometry) -> Geometry:
    """Geometry intersection: point/line/polygon and their multis in any
    combination (concave + holed polygons via tessellate-clip-dissolve);
    GeometryCollections dispatch componentwise (union of the piece results,
    type-promoted — JTS OverlayNG collection semantics)."""
    if a.is_empty() or b.is_empty() or disjoint(a, b):
        return empty(_inter_type(a, b))
    if a.gtype == GEOMETRYCOLLECTION:
        return _combine([intersection(sub, b) for sub in a.coords])
    if b.gtype == GEOMETRYCOLLECTION:
        return _combine([intersection(a, sub) for sub in b.coords])
    # point cases
    if a.dimension() == 0:
        pts = [p for p in _points_of(a) if locate(p[0], p[1], b) != EXTERIOR]
        if not pts:
            return empty(POINT)
        if len(pts) == 1:
            return point(pts[0][0], pts[0][1])
        return Geometry(MULTIPOINT, np.asarray(pts))
    if b.dimension() == 0:
        return intersection(b, a)
    # line x areal: keep inside/on sub-segments
    if a.dimension() == 1 and b.dimension() == 2:
        return _clip_line(a, b, keep_inside=True)
    if a.dimension() == 2 and b.dimension() == 1:
        return _clip_line(b, a, keep_inside=True)
    if a.dimension() == 2 and b.dimension() == 2:
        for clip_g, subj in ((b, a), (a, b)):
            cps = _polygons_of(clip_g)
            # convex fast path ONLY for hole-free subjects: Sutherland-Hodgman
            # clips each ring independently and would emit a clipped HOLE ring
            # as a positive polygon
            if (
                len(cps) == 1
                and len(cps[0]) == 1
                and _is_convex(cps[0][0])
                and all(len(r) == 1 for r in _polygons_of(subj))
            ):
                pieces = [
                    clip_polygon_convex(rings, cps[0][0])
                    for rings in _polygons_of(subj)
                ]
                pieces = [p for p in pieces if not p.is_empty()]
                if not pieces:
                    return empty(POLYGON)
                if len(pieces) == 1:
                    return pieces[0]
                return multipolygon([q for p in pieces for q in _polygons_of(p)])
        # concave x concave: triangulate-and-clip (area-exact; tessellated)
        return intersection_areal(a, b)
    # line x line: crossing points + collinear-overlap sub-lines (JTS returns
    # the shared 1-D parts as lines, not just 0-D crossings)
    if a.dimension() == 1 and b.dimension() == 1:
        pts = []
        lines: list[Geometry] = []
        bsegs = _line_segments(b)
        for ax, ay, bx, by in _line_segments(a):
            p0, p1 = (ax, ay), (bx, by)
            overlaps = _collinear_overlap_intervals(p0, p1, bsegs)
            for lo, hi in overlaps:
                lines.append(
                    linestring(
                        [
                            (ax + (bx - ax) * lo, ay + (by - ay) * lo),
                            (ax + (bx - ax) * hi, ay + (by - ay) * hi),
                        ]
                    )
                )
            for t in _seg_params(p0, p1, bsegs) + [0.0, 1.0]:
                if any(lo - 1e-12 <= t <= hi + 1e-12 for lo, hi in overlaps):
                    continue  # covered by a 1-D overlap part
                px, py = ax + (bx - ax) * t, ay + (by - ay) * t
                if locate(px, py, b) != EXTERIOR:
                    pts.append((px, py))
        uniq = sorted(set(pts))
        if lines:
            return _combine(lines + [point(*p) for p in uniq])
        if not uniq:
            return empty(POINT)
        if len(uniq) == 1:
            return point(*uniq[0])
        return Geometry(MULTIPOINT, np.asarray(uniq))
    raise NotImplementedError("intersection for this type combination")


def _inter_type(a, b):
    return min(
        (POINT, LINESTRING, POLYGON)[min(a.dimension(), b.dimension())],
        POLYGON,
    )


def _clip_line(line_g: Geometry, areal: Geometry, keep_inside: bool) -> Geometry:
    osegs = _line_segments(areal)
    parts = []
    for arr in _lines_of(line_g):
        a = np.asarray(arr)
        cur: list = []
        for i in range(len(a) - 1):
            p0, p1 = a[i, :2], a[i + 1, :2]
            ts = [0.0] + _seg_params(p0, p1, osegs) + [1.0]
            for j in range(len(ts) - 1):
                t0, t1 = ts[j], ts[j + 1]
                mx = p0[0] + (p1[0] - p0[0]) * (t0 + t1) / 2
                my = p0[1] + (p1[1] - p0[1]) * (t0 + t1) / 2
                inside = locate(mx, my, areal) != EXTERIOR
                if inside == keep_inside:
                    s = (p0[0] + (p1[0] - p0[0]) * t0, p0[1] + (p1[1] - p0[1]) * t0)
                    e = (p0[0] + (p1[0] - p0[0]) * t1, p0[1] + (p1[1] - p0[1]) * t1)
                    if cur and cur[-1] == s:
                        cur.append(e)
                    else:
                        if len(cur) >= 2:
                            parts.append(cur)
                        cur = [s, e]
        if len(cur) >= 2:
            parts.append(cur)
    if not parts:
        return empty(LINESTRING)
    if len(parts) == 1:
        return linestring(parts[0])
    return Geometry(MULTILINESTRING, [np.asarray(p) for p in parts])


def difference(a: Geometry, b: Geometry) -> Geometry:
    """A minus B for point/line/polygon and their multis (areal via
    tessellate-subtract-dissolve); GeometryCollections dispatch
    componentwise (A's members each minus B; B's members subtracted
    sequentially — JTS OverlayNG collection semantics)."""
    if a.is_empty():
        return a
    if b.is_empty() or disjoint(a, b):
        return a
    if a.gtype == GEOMETRYCOLLECTION:
        return _combine([difference(sub, b) for sub in a.coords])
    if b.gtype == GEOMETRYCOLLECTION:
        out = a
        for sub in b.coords:
            out = difference(out, sub)
            if out.is_empty():
                return out
        return out
    if a.dimension() == 0:
        pts = [p for p in _points_of(a) if locate(p[0], p[1], b) == EXTERIOR]
        if not pts:
            return empty(POINT)
        if len(pts) == 1:
            return point(pts[0][0], pts[0][1])
        return Geometry(MULTIPOINT, np.asarray(pts))
    if a.dimension() == 1 and b.dimension() == 2:
        return _clip_line(a, b, keep_inside=False)
    if a.dimension() == 1 and b.dimension() == 1:
        # line - line: remove only the collinear-OVERLAP (1-D) parts; mere
        # crossing points do not change a 1-D geometry (JTS semantics)
        bsegs = _line_segments(b)
        parts: list[list] = []
        for arr in _lines_of(a):
            arr = np.asarray(arr)
            cur: list = []
            for i in range(len(arr) - 1):
                p0, p1 = arr[i, :2], arr[i + 1, :2]
                overlaps = _collinear_overlap_intervals(tuple(p0), tuple(p1), bsegs)
                keep, t_prev = [], 0.0
                for lo, hi in overlaps:
                    if lo - t_prev > 1e-12:
                        keep.append((t_prev, lo))
                    t_prev = max(t_prev, hi)
                if 1.0 - t_prev > 1e-12:
                    keep.append((t_prev, 1.0))
                for t0, t1 in keep:
                    # use the ORIGINAL vertices verbatim at t=0/t=1 —
                    # p0+(p1-p0)*1.0 can differ from p1 by 1 ulp, which would
                    # break the cur[-1] == s chaining below and fragment a
                    # continuous result at interior vertices
                    if t0 == 0.0:
                        s = (float(p0[0]), float(p0[1]))
                    else:
                        s = (
                            float(p0[0] + (p1[0] - p0[0]) * t0),
                            float(p0[1] + (p1[1] - p0[1]) * t0),
                        )
                    if t1 == 1.0:
                        e = (float(p1[0]), float(p1[1]))
                    else:
                        e = (
                            float(p0[0] + (p1[0] - p0[0]) * t1),
                            float(p0[1] + (p1[1] - p0[1]) * t1),
                        )
                    if cur and cur[-1] == s:
                        cur.append(e)
                    else:
                        if len(cur) >= 2:
                            parts.append(cur)
                        cur = [s, e]
            if len(cur) >= 2:
                parts.append(cur)
        if not parts:
            return empty(LINESTRING)
        if len(parts) == 1:
            return linestring(parts[0])
        return Geometry(MULTILINESTRING, [np.asarray(p) for p in parts])
    if a.dimension() == 2 and b.dimension() == 2:
        if covers(b, a):
            return empty(POLYGON)
        # general case: triangulated convex subtraction (area-exact)
        return difference_areal(a, b)
    if a.dimension() == 2 and b.dimension() <= 1:
        return a  # subtracting a 0/1-D geometry leaves an areal A unchanged
    if a.dimension() == 1 and b.dimension() == 0:
        return a
    raise NotImplementedError("difference for this type combination")


# ------------------------------------------------------------ transformations


def translate(g: Geometry, dx: float, dy: float) -> Geometry:
    return _map_coords(g, lambda c: c + np.array([dx, dy]))


def _map_coords(g: Geometry, f) -> Geometry:
    t = g.gtype
    if t == POINT:
        return Geometry(POINT, f(np.asarray(g.coords, dtype=np.float64).reshape(1, 2))[0])
    if t in (LINESTRING, MULTIPOINT):
        return Geometry(t, f(np.asarray(g.coords, dtype=np.float64)))
    if t in (POLYGON, MULTILINESTRING):
        return Geometry(t, [f(np.asarray(r, dtype=np.float64)) for r in g.coords])
    if t == MULTIPOLYGON:
        return Geometry(
            t, [[f(np.asarray(r, dtype=np.float64)) for r in p] for p in g.coords]
        )
    return Geometry(t, [_map_coords(sub, f) for sub in g.coords])


def envelope(g: Geometry) -> Geometry:
    minx, miny, maxx, maxy = g.bounds()
    if math.isnan(minx):
        return empty(POLYGON)
    if minx == maxx and miny == maxy:
        return point(minx, miny)
    if minx == maxx or miny == maxy:
        return linestring([[minx, miny], [maxx, maxy]])
    from .core import box

    return box(minx, miny, maxx, maxy)


def solid_rect_bounds(g: Geometry) -> tuple[float, float, float, float] | None:
    """Bounds of `g` when it is a SOLID axis-aligned rectangle of positive
    width and height (one part, no holes, the 4 distinct bbox corners in
    adjacent-corner order), else None. Vertices-on-corners alone would
    admit a triangle with a doubled corner or a corner bowtie, which are
    not solid rectangles; zero-width boxes have different DE-9IM boundary
    semantics. Callers answer predicates from these bounds alone."""
    polys = _polygons_of(g)
    if len(polys) != 1 or len(polys[0]) != 1:
        return None
    r = np.asarray(polys[0][0])
    if len(r) != 5:
        return None
    b = g.bounds()
    if not (b[0] < b[2] and b[1] < b[3]):
        return None
    corners = {(b[0], b[1]), (b[2], b[1]), (b[2], b[3]), (b[0], b[3])}
    verts = [(float(p[0]), float(p[1])) for p in r[:4, :2]]
    if set(verts) != corners:
        return None
    adjacent = all(
        (verts[i][0] == verts[(i + 1) % 4][0]) != (verts[i][1] == verts[(i + 1) % 4][1])
        for i in range(4)
    )
    return b if adjacent else None


def exterior_ring(g: Geometry) -> Geometry | None:
    if g.gtype != POLYGON or not g.coords:
        return None
    return Geometry(LINESTRING, np.asarray(g.coords[0]))


def interior_ring_n(g: Geometry, n: int) -> Geometry | None:
    """1-based hole accessor."""
    if g.gtype != POLYGON or n < 1 or n > len(g.coords) - 1:
        return None
    return Geometry(LINESTRING, np.asarray(g.coords[n]))


def boundary(g: Geometry) -> Geometry:
    t = g.gtype
    if t in (POINT, MULTIPOINT):
        return empty(GEOMETRYCOLLECTION)
    if t in (LINESTRING, MULTILINESTRING):
        pts = _line_boundary_points(g)
        if len(pts) == 0:
            return empty(MULTIPOINT)
        if len(pts) == 1:
            return point(pts[0][0], pts[0][1])
        return Geometry(MULTIPOINT, pts)
    if t == POLYGON:
        if len(g.coords) == 1:
            return Geometry(LINESTRING, np.asarray(g.coords[0]))
        return Geometry(MULTILINESTRING, [np.asarray(r) for r in g.coords])
    if t == MULTIPOLYGON:
        rings = [np.asarray(r) for p in g.coords for r in p]
        if len(rings) == 1:
            return Geometry(LINESTRING, rings[0])
        return Geometry(MULTILINESTRING, rings)
    return Geometry(GEOMETRYCOLLECTION, [boundary(sub) for sub in g.coords])


def is_closed(g: Geometry) -> bool:
    """True for non-lines (GeometricAccessorFunctions.scala:44-48)."""
    lines = _lines_of(g)
    if g.gtype not in (LINESTRING, MULTILINESTRING):
        return True
    return all(len(l) >= 2 and np.array_equal(l[0], l[-1]) for l in lines)


def is_ring(g: Geometry) -> bool:
    if g.gtype != LINESTRING:
        return False
    return is_closed(g) and is_simple(g)


def is_simple(g: Geometry) -> bool:
    """Self-intersection check for lines; True for points/polygons(valid)."""
    if g.gtype not in (LINESTRING, MULTILINESTRING):
        return True
    for arr in _lines_of(g):
        a = np.asarray(arr)
        n = len(a) - 1
        closed = n >= 2 and np.array_equal(a[0], a[-1])
        for i in range(n):
            for j in range(i + 1, n):
                adjacent = j == i + 1 or (closed and i == 0 and j == n - 1)
                p, q = a[i, :2], a[i + 1, :2]
                r, s = a[j, :2], a[j + 1, :2]
                inter = _segs_intersect(p, q, r, s)
                if inter and not adjacent:
                    return False
    return True


def _segs_intersect(p, q, r, s) -> bool:
    o1 = _orient(*p, *q, *r)
    o2 = _orient(*p, *q, *s)
    o3 = _orient(*r, *s, *p)
    o4 = _orient(*r, *s, *q)
    if ((o1 > 0) != (o2 > 0)) and ((o3 > 0) != (o4 > 0)):
        return True
    for pt, sa, sb in ((r, p, q), (s, p, q), (p, r, s), (q, r, s)):
        if _on_segment(pt[0], pt[1], sa[0], sa[1], sb[0], sb[1]):
            return True
    return False


def is_valid(g: Geometry) -> bool:
    """Polygon validity: closed rings >=4 pts, simple shell, holes inside."""
    for rings in _polygons_of(g):
        for r in rings:
            r = np.asarray(r)
            if len(r) < 4 or not np.array_equal(r[0], r[-1]):
                return False
            ring_line = Geometry(LINESTRING, r)
            if not is_simple(ring_line):
                return False
    for arr in _lines_of(g):
        if len(arr) < 2:
            return False
    return True


def make_valid(g: Geometry) -> Geometry:
    """Limited GeometryFixer analog: close rings, drop degenerate rings,
    dedupe consecutive duplicate vertices."""

    def fix_ring(r):
        r = np.asarray(r, dtype=np.float64)
        keep = [0] + [i for i in range(1, len(r)) if not np.array_equal(r[i], r[i - 1])]
        r = r[keep]
        if len(r) and not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        return r

    t = g.gtype
    if t == POLYGON:
        rings = [fix_ring(r) for r in g.coords]
        rings = [r for r in rings if len(r) >= 4]
        return Geometry(POLYGON, rings)
    if t == MULTIPOLYGON:
        polys = []
        for p in g.coords:
            rings = [fix_ring(r) for r in p]
            rings = [r for r in rings if len(r) >= 4]
            if rings:
                polys.append(rings)
        return Geometry(MULTIPOLYGON, polys)
    return g


# --------------------------------------------------- geodesic point buffering


def buffer_point_geodesic(lon: float, lat: float, meters: float, n: int = 100) -> Geometry:
    """Geodesic circle approximated with n points
    (GeometricProcessingFunctions.scala:33-39,59-62: spatial4j circle with
    dist2Degrees(d/1000, EARTH_MEAN_RADIUS_KM), 100-point approximation).

    Uses the spherical direct formula; at the equator due east this yields
    exactly meters/R degrees, matching the reference fixture."""
    ang = meters / EARTH_MEAN_RADIUS_M  # angular radius
    lat1 = math.radians(lat)
    lon1 = math.radians(lon)
    bearings = np.linspace(0, 2 * math.pi, n, endpoint=False)
    lat2 = np.arcsin(
        math.sin(lat1) * math.cos(ang)
        + math.cos(lat1) * math.sin(ang) * np.cos(bearings)
    )
    lon2 = lon1 + np.arctan2(
        np.sin(bearings) * math.sin(ang) * math.cos(lat1),
        math.cos(ang) - math.sin(lat1) * np.sin(lat2),
    )
    xs = np.degrees(lon2)
    ys = np.degrees(lat2)
    # start at bearing 90 (due east) to match fixture first-vertex convention
    ring = np.column_stack([xs, ys])
    # rotate so first vertex is the due-east one (bearing index n/4)
    k = n // 4
    ring = np.vstack([ring[k:], ring[:k]])
    g = polygon(ring)
    minx, _, maxx, _ = g.bounds()
    if maxx - minx > 180 or minx < -180 or maxx > 180:
        # crosses the antimeridian: normalize+split
        return antimeridian_safe(g)
    return g


def antimeridian_safe(g: Geometry) -> Geometry:
    """Split/translate geometries crossing the international date line
    (GeometricProcessingFunctions.scala:41-57). Areal input comes back
    polygonal, or as a GEOMETRYCOLLECTION of the polygons followed by the
    split line and point members when a collection has any; lineal and
    puntal input come back as their split pieces."""
    minx, miny, maxx, maxy = g.bounds()
    if minx >= -180 and maxx <= 180:
        return g
    from .core import box as _box

    world = _box(-180, -90, 180, 90)
    parts = []
    rest = []  # line and point members of an areal collection
    for shift in (0.0, 360.0, -360.0):
        shifted = translate(g, shift, 0.0) if shift else g
        smin, _, smax, _ = shifted.bounds()
        if smax < -180 or smin > 180:
            continue
        piece = intersection(shifted, world)
        if piece.is_empty():
            continue
        if g.dimension() == 2:
            parts.extend(_polygons_of(piece))
            rest.extend(Geometry(LINESTRING, a) for a in _lines_of(piece))
            rest.extend(Geometry(POINT, p) for p in _points_of(piece))
        elif piece.dimension() == g.dimension():
            parts.append(piece)
    if g.dimension() == 2:
        areal = Geometry(POLYGON, parts[0]) if len(parts) == 1 else Geometry(MULTIPOLYGON, parts)
        return Geometry(GEOMETRYCOLLECTION, [areal, *rest]) if rest else areal
    if len(parts) == 1:
        return parts[0]
    return Geometry(GEOMETRYCOLLECTION, parts)


# ------------------------------------------------ general polygon intersection


def triangulate_ring(ring: np.ndarray) -> list[np.ndarray]:
    """Ear-clipping triangulation of a simple (non-self-intersecting) ring
    without holes. Returns closed triangle rings."""
    pts = [tuple(p) for p in np.asarray(ring, dtype=np.float64)[:-1, :2]]
    if len(pts) < 3:
        return []
    if _ring_area(np.vstack([pts, pts[:1]])) < 0:
        pts = pts[::-1]
    tris: list[np.ndarray] = []
    idx = list(range(len(pts)))
    guard = 0
    while len(idx) > 3 and guard < 10000:
        guard += 1
        n = len(idx)
        ear_found = False
        for k in range(n):
            i0, i1, i2 = idx[(k - 1) % n], idx[k], idx[(k + 1) % n]
            a, b, c = pts[i0], pts[i1], pts[i2]
            if _orient(*a, *b, *c) <= _EPS:
                continue  # reflex or collinear
            # no other active vertex inside the candidate ear
            tri = np.array([a, b, c, a])
            ok = True
            for j in idx:
                if j in (i0, i1, i2):
                    continue
                p = pts[j]
                if _point_in_ring(p[0], p[1], tri) != EXTERIOR:
                    ok = False
                    break
            if ok:
                tris.append(tri)
                idx.pop(k)
                ear_found = True
                break
        if not ear_found:
            break  # degenerate input; emit what we have
    if len(idx) == 3:
        a, b, c = (pts[i] for i in idx)
        if abs(_orient(*a, *b, *c)) > _EPS:
            tris.append(np.array([a, b, c, a]))
    return tris


def _tessellate_polygon(rings) -> list[np.ndarray]:
    """Convex pieces exactly covering shell MINUS holes: ear-clip the shell,
    then subtract each hole triangle with convex half-plane fans. Every
    intermediate piece is convex (convex ∖ half-plane stays convex), so the
    result is a convex decomposition of the polygon-with-holes region."""
    pieces = triangulate_ring(np.asarray(rings[0]))
    for hole in rings[1:]:
        for ht in triangulate_ring(np.asarray(hole)):
            nxt: list[np.ndarray] = []
            for p in pieces:
                nxt.extend(_convex_subtract(p, ht))
            pieces = nxt
            if not pieces:
                break
    return pieces


_SNAP = 1e-9


def dissolve_pieces(pieces: list[np.ndarray], node: bool = True) -> Geometry:
    """Merge interior-disjoint convex pieces into the DISSOLVED
    (multi)polygon — the JTS-shaped boolean output (OverlayOp result form,
    ref SpatialRelationFunctions.scala:24-59) instead of triangle soup.

    1. snap vertices to a 1e-9 grid and NODE every edge at the snapped
       vertices lying on it (clips of different piece pairs produce
       T-junctions; without noding, interior edges would not pair up);
    2. drop edge segments appearing more than once (shared piece borders are
       interior to the union; each appears once per side);
    3. trace remaining directed edges into rings, resolving pinch vertices
       by taking the clockwise-most continuation (keeps the union interior
       on the left throughout);
    4. CCW rings are shells, CW rings are holes; each hole attaches to the
       smallest shell containing it."""
    import math as _math
    from collections import defaultdict

    def key(x, y):
        return (round(x / _SNAP), round(y / _SNAP))

    verts: dict[tuple, tuple] = {}
    raw_edges: list[tuple] = []
    for p in pieces:
        r = np.asarray(p, dtype=np.float64)
        if _ring_area(r) < 0:
            r = r[::-1]
        # skip pieces that are degenerate AFTER snapping (exact integer
        # shoelace on the snapped keys): a zero-area sliver traverses its
        # support segment twice, bumping shared-edge counts past the
        # appears-once test and severing real boundary edges — a rect ∩
        # holed-polygon clip emits such slivers along the hole ring
        ks = []
        for i in range(len(r) - 1):
            k = key(*r[i, :2])
            if not ks or k != ks[-1]:
                ks.append(k)
        if len(ks) > 1 and ks[0] == ks[-1]:
            ks.pop()
        if len(ks) < 3 or sum(
            ks[i][0] * ks[(i + 1) % len(ks)][1]
            - ks[(i + 1) % len(ks)][0] * ks[i][1]
            for i in range(len(ks))
        ) == 0:
            continue
        for i in range(len(r) - 1):
            ku, kv = key(*r[i, :2]), key(*r[i + 1, :2])
            if ku == kv:
                continue
            verts.setdefault(ku, (float(r[i, 0]), float(r[i, 1])))
            verts.setdefault(kv, (float(r[i + 1, 0]), float(r[i + 1, 1])))
            raw_edges.append((ku, kv))
    if not raw_edges:
        return empty(POLYGON)

    # node edges at snapped vertices lying on them (T-junctions). node=False
    # skips the O(E x V) pass — correct when pieces share EXACT edges by
    # construction (e.g. equal grid cells in polygonize_density)
    if not node:
        noded = raw_edges
        vitems = []
    else:
        vitems = list(verts.items())
        noded = []
    for ku, kv in raw_edges if node else []:
        ux, uy = verts[ku]
        vx, vy = verts[kv]
        dx, dy = vx - ux, vy - uy
        L2 = dx * dx + dy * dy
        on: list[tuple] = []
        for kw, (wx, wy) in vitems:
            if kw == ku or kw == kv:
                continue
            t = ((wx - ux) * dx + (wy - uy) * dy) / L2
            if t <= 0.0 or t >= 1.0:
                continue
            px, py = ux + t * dx, uy + t * dy
            if abs(px - wx) <= 10 * _SNAP and abs(py - wy) <= 10 * _SNAP:
                on.append((t, kw))
        chain = [ku] + [kw for _, kw in sorted(on)] + [kv]
        for i in range(len(chain) - 1):
            if chain[i] != chain[i + 1]:
                noded.append((chain[i], chain[i + 1]))

    # keep only edges whose undirected segment appears exactly once
    count: dict[tuple, int] = defaultdict(int)
    for ku, kv in noded:
        count[(min(ku, kv), max(ku, kv))] += 1
    boundary = [
        (ku, kv) for ku, kv in noded if count[(min(ku, kv), max(ku, kv))] == 1
    ]
    if not boundary:
        return empty(POLYGON)

    out_edges: dict[tuple, list[tuple]] = defaultdict(list)
    for ku, kv in boundary:
        out_edges[ku].append(kv)
    used: set[tuple] = set()
    rings: list[np.ndarray] = []
    for start_u, start_v in boundary:
        if (start_u, start_v) in used:
            continue
        ring_keys = [start_u]
        u, v = start_u, start_v
        used.add((u, v))
        guard = 0
        while v != start_u and guard < len(boundary) + 1:
            guard += 1
            ring_keys.append(v)
            cands = [w for w in out_edges[v] if (v, w) not in used]
            if not cands:
                break
            if len(cands) == 1:
                w = cands[0]
            else:
                # pinch vertex: clockwise-most continuation from the reversed
                # incoming direction keeps this face's interior on the left
                ux, uy = verts[u]
                vx, vy = verts[v]
                rev = _math.atan2(uy - vy, ux - vx)

                def cw_delta(w):
                    wx, wy = verts[w]
                    ang = _math.atan2(wy - vy, wx - vx)
                    return (rev - ang) % (2 * _math.pi)

                w = min(cands, key=cw_delta)
            used.add((v, w))
            u, v = v, w
        if v == start_u and len(ring_keys) >= 3:
            # drop collinear vertices introduced by noding (JTS-shaped rings)
            pts_r = [verts[kk] for kk in ring_keys]
            keep = [
                p
                for i, p in enumerate(pts_r)
                if abs(
                    _orient(*pts_r[i - 1], *p, *pts_r[(i + 1) % len(pts_r)])
                )
                > _EPS
            ]
            if len(keep) >= 3:
                arr = np.array(keep + [keep[0]])
                if abs(_ring_area(arr)) > 1e-14:
                    rings.append(arr)

    shells = [r for r in rings if _ring_area(r) > 0]
    holes = [r for r in rings if _ring_area(r) < 0]
    if not shells:
        return empty(POLYGON)
    polys: list[list[np.ndarray]] = [[s] for s in shells]
    for h in holes:
        # attach to the smallest shell containing the hole's first vertex
        cands = [
            (abs(_ring_area(s)), si)
            for si, s in enumerate(shells)
            if _point_in_ring(h[0, 0], h[0, 1], s) != EXTERIOR
        ]
        if cands:
            polys[min(cands)[1]].append(h)
    if len(polys) == 1:
        return Geometry(POLYGON, polys[0])
    return Geometry(MULTIPOLYGON, polys)


def intersection_areal(a: Geometry, b: Geometry) -> Geometry:
    """Intersection of two areal geometries, CONCAVE shells and HOLES
    supported: tessellate both regions into convex pieces (shell triangles
    minus hole triangles), convex-clip each pair, collect the
    interior-disjoint pieces, then DISSOLVE them (dissolve_pieces) into the
    maximal-ring (multi)polygon the reference returns (JTS OverlayOp,
    SpatialRelationFunctions.scala:24-59). Area-exact."""
    apolys = _polygons_of(a)
    bpolys = _polygons_of(b)
    pieces: list[list[np.ndarray]] = []
    if not any(len(r) > 1 for r in apolys):
        # hole-free subject: clip the (possibly concave) polygon directly by
        # each convex piece of b — fewer output pieces than the full product
        for rings_b in bpolys:
            for tri in _tessellate_polygon(rings_b):
                for rings_a in apolys:
                    clipped = clip_polygon_convex(rings_a, tri)
                    if not clipped.is_empty():
                        pieces.extend(_polygons_of(clipped))
    else:
        tess_a = [p for rings in apolys for p in _tessellate_polygon(rings)]
        for rings_b in bpolys:
            for tri in _tessellate_polygon(rings_b):
                for pa in tess_a:
                    clipped = clip_polygon_convex([pa], tri)
                    if not clipped.is_empty():
                        pieces.extend(_polygons_of(clipped))
    if not pieces:
        return empty(POLYGON)
    if len(pieces) == 1:
        return Geometry(POLYGON, pieces[0])
    return dissolve_pieces([r for rings in pieces for r in rings])


def _clip_halfplane(ring: np.ndarray, ax, ay, bx, by, keep_left: bool) -> np.ndarray | None:
    """Sutherland–Hodgman against one edge's half-plane. Ring closed CCW."""
    pts = [tuple(p) for p in np.asarray(ring)[:-1, :2]]
    out = []
    sgn = 1.0 if keep_left else -1.0
    for j in range(len(pts)):
        cx, cy = pts[j]
        px, py = pts[j - 1]
        c_in = sgn * _orient(ax, ay, bx, by, cx, cy) >= -_EPS
        p_in = sgn * _orient(ax, ay, bx, by, px, py) >= -_EPS
        if c_in:
            if not p_in:
                out.append(_line_inter(px, py, cx, cy, ax, ay, bx, by))
            out.append((cx, cy))
        elif p_in:
            out.append(_line_inter(px, py, cx, cy, ax, ay, bx, by))
    # drop duplicate consecutive vertices (an intersection point coinciding
    # with a kept vertex): a zero-length ring edge later poisons the
    # subtraction fan (orient == 0 classifies everything as both sides)
    dedup = [p for i, p in enumerate(out) if i == 0 or
             abs(p[0] - out[i - 1][0]) > 1e-12 or abs(p[1] - out[i - 1][1]) > 1e-12]
    while len(dedup) > 1 and abs(dedup[0][0] - dedup[-1][0]) <= 1e-12 and abs(dedup[0][1] - dedup[-1][1]) <= 1e-12:
        dedup.pop()
    out = dedup
    if len(out) < 3:
        return None
    r = np.array(out + [out[0]])
    return r if abs(_ring_area(r)) > 1e-12 else None


def _convex_subtract(piece: np.ndarray, tri: np.ndarray) -> list[np.ndarray]:
    """piece \\ tri for convex CCW rings: fan of half-plane clips."""
    if _ring_area(piece) < 0:
        piece = piece[::-1]
    if _ring_area(tri) < 0:
        tri = tri[::-1]
    pieces: list[np.ndarray] = []
    current: np.ndarray | None = piece
    for i in range(len(tri) - 1):
        ax, ay = tri[i]
        bx, by = tri[i + 1]
        if abs(bx - ax) <= 1e-12 and abs(by - ay) <= 1e-12:
            continue  # zero-length edge defines no half-plane
        outside = _clip_halfplane(current, ax, ay, bx, by, keep_left=False)
        if outside is not None:
            pieces.append(outside)
        current = _clip_halfplane(current, ax, ay, bx, by, keep_left=True)
        if current is None:
            break
    return pieces


def difference_areal(a: Geometry, b: Geometry) -> Geometry:
    """A minus B for arbitrary simple shells INCLUDING holes: tessellate A's
    region into convex pieces, then subtract each convex piece of B's region
    (convex half-plane fans). Subtracting B's region == subtracting each
    piece of its convex decomposition sequentially. Area-exact; the pieces
    are DISSOLVED into the maximal-ring result (dissolve_pieces) like
    intersection_areal — holes cut by the subtraction come back as rings."""
    tris_b = [t for rings in _polygons_of(b) for t in _tessellate_polygon(rings)]
    out_pieces: list[np.ndarray] = []
    for rings_a in _polygons_of(a):
        pieces = _tessellate_polygon(rings_a)
        for tb in tris_b:
            nxt: list[np.ndarray] = []
            for p in pieces:
                nxt.extend(_convex_subtract(p, tb))
            pieces = nxt
            if not pieces:
                break
        out_pieces.extend(pieces)
    if not out_pieces:
        return empty(POLYGON)
    if len(out_pieces) == 1:
        return Geometry(POLYGON, [out_pieces[0]])
    return dissolve_pieces(out_pieces)

"""Engine relate vs the exact rational-arithmetic oracle (tests/exact_relate).

The float lattice sweeps prove batch == scalar; this suite proves the SCALAR
itself against an independently-derived exact ground truth (Fractions — on
integer lattices every answer here is exact, VERDICT r6 'what's missing' #3:
full topology equivalence beyond batch-vs-scalar agreement).

Part 1 pins the oracle to hand-derivable textbook cases so a bug in the
oracle can't silently validate a matching bug in the engine. Part 2 sweeps
seeded integer-lattice soups — small coordinate range forces the collinear
overlaps, vertex hits, and boundary-riding incidences where relate bugs
live — through all 7 predicates in both directions.
"""

from __future__ import annotations

import numpy as np
import pytest

from exact_relate import (
    XGC,
    XHoledPoly,
    XLine,
    XMultiLine,
    XMultiPoly,
    XPoints,
    XPoly,
    XSimplePoly,
    XTouchMultiPoly,
    predicates,
    predicates_union,
)
from geomesa_spark.geom import algorithms as alg
from geomesa_spark.geom.wkt import from_wkt
from sweep_pool import sweep

PREDICATES = (
    "intersects",
    "disjoint",
    "contains",
    "within",
    "covers",
    "touches",
    "crosses",
    "overlaps",
    "equals",
)


def _check(oracle_truth: dict, expect: dict):
    for k, v in expect.items():
        assert oracle_truth[k] == v, (k, oracle_truth)


def test_oracle_textbook_cases():
    sq = XPoly([(0, 0), (2, 0), (2, 2), (0, 2)])
    sq_shift = XPoly([(1, 1), (3, 1), (3, 3), (1, 3)])
    sq_adjacent = XPoly([(2, 0), (4, 0), (4, 2), (2, 2)])
    sq_inside = XPoly([(0, 0), (1, 0), (1, 1), (0, 1)])  # shares corner
    _check(
        predicates(sq, sq_shift),
        {"overlaps": True, "intersects": True, "touches": False, "contains": False},
    )
    _check(
        predicates(sq, sq_adjacent),
        {"touches": True, "overlaps": False, "intersects": True, "disjoint": False},
    )
    _check(
        predicates(sq, sq),
        {"contains": True, "within": True, "overlaps": False, "touches": False},
    )
    _check(
        predicates(sq, sq_inside),
        {"contains": True, "overlaps": False, "touches": False},
    )
    _check(predicates(sq_inside, sq), {"within": True, "crosses": False})

    cross_line = XLine([(-1, 1), (3, 1)])
    edge_line = XLine([(0, 0), (2, 0)])
    inside_line = XLine([(1, 1), (1, 2)])  # endpoint on boundary? (1,2) on top edge
    _check(
        predicates(cross_line, sq),
        {"crosses": True, "intersects": True, "within": False, "touches": False},
    )
    _check(predicates(sq, cross_line), {"crosses": True, "contains": False})
    _check(
        predicates(edge_line, sq),
        {"touches": True, "crosses": False, "within": False},
    )
    # line from interior to boundary: within (boundary point allowed), not
    # crosses (never exits)
    _check(
        predicates(inside_line, sq),
        {"within": True, "crosses": False, "touches": False, "intersects": True},
    )

    l1 = XLine([(0, 0), (4, 0)])
    l2 = XLine([(2, 0), (6, 0)])  # collinear overlap
    l3 = XLine([(1, 0), (3, 0)])  # contained sub-line
    l4 = XLine([(2, -2), (2, 2)])  # proper cross
    l5 = XLine([(4, 0), (4, 4)])  # endpoint touch
    _check(
        predicates(l1, l2),
        {"overlaps": True, "crosses": False, "touches": False, "intersects": True},
    )
    _check(predicates(l1, l3), {"contains": True, "overlaps": False})
    _check(predicates(l3, l1), {"within": True})
    _check(predicates(l1, l4), {"crosses": True, "overlaps": False, "touches": False})
    _check(predicates(l1, l5), {"touches": True, "crosses": False})

    # closed line (ring as LINESTRING): empty boundary — touching a closed
    # ring at a point is interior-interior contact, NOT touches
    ring = XLine([(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)])
    spoke = XLine([(2, 1), (4, 1)])  # endpoint on the ring's right side
    got = predicates(spoke, ring)
    assert got["touches"] is True  # spoke's own endpoint is ITS boundary
    got = predicates(ring, spoke)
    assert got["touches"] is True
    # two closed rings sharing one corner point: II contact at the corner
    # (both boundaries empty) -> intersects but NOT touches
    ring2 = XLine([(2, 2), (4, 2), (4, 4), (2, 4), (2, 2)])
    got = predicates(ring, ring2)
    assert got["intersects"] is True and got["touches"] is False
    assert got["crosses"] is True  # dim(II) == 0 for two 1-dim geometries

    mp = XPoints([(0, 0), (1, 1), (5, 5)])
    _check(
        predicates(mp, sq),
        {"intersects": True, "within": False, "touches": False, "crosses": True},
    )
    _check(predicates(XPoints([(1, 1)]), sq), {"within": True, "touches": False})
    _check(predicates(XPoints([(0, 1)]), sq), {"touches": True, "within": False})
    # one point interior + one on boundary: within per SFS (II nonempty and
    # nothing of A escapes B — boundary contact does not defeat within)
    _check(
        predicates(XPoints([(1, 1), (0, 1)]), sq),
        {"intersects": True, "within": True, "touches": False, "crosses": False},
    )
    _check(
        predicates(mp, XPoints([(0, 0), (7, 7)])),
        {"intersects": True, "overlaps": True, "contains": False, "touches": False},
    )

    # SFS mod-2 boundary: a shared member endpoint occurs twice -> INTERIOR.
    # The two-member multiline must relate exactly like the equivalent
    # single line, including against a spoke ending at the junction.
    ml = XMultiLine([[(0, 0), (2, 0)], [(2, 0), (4, 0)]])
    single = XLine([(0, 0), (4, 0)])
    spoke = XLine([(2, 0), (2, 2)])
    assert predicates(ml, spoke) == predicates(single, spoke)
    assert predicates(spoke, ml) == predicates(spoke, single)
    _check(predicates(spoke, ml), {"touches": True, "crosses": False})
    assert predicates(ml, sq) == predicates(single, sq)
    # junction-endpoint parity: a line ENDING at the junction touches (the
    # junction is ml-interior, the contact is the other line's boundary)
    _check(
        predicates(XLine([(2, 0), (5, -3)]), ml),
        {"touches": True, "intersects": True},
    )
    # odd-count endpoint stays boundary: three members at one point
    ml3 = XMultiLine([[(0, 0), (2, 0)], [(2, 0), (4, 0)], [(2, 0), (2, 2)]])
    _check(
        predicates(XLine([(2, 0), (5, -3)]), ml3),
        {"touches": True},  # BB contact at (2,0): odd count -> ml3 boundary
    )

    # archipelago: two islands, a line crossing both, a container square
    arch = XMultiPoly(
        [
            [(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)],
            [(3, 0), (4, 0), (4, 1), (3, 1), (3, 0)],
        ]
    )
    _check(
        predicates(XLine([(-1, 0.5), (5, 0.5)]), arch),
        {"crosses": True, "intersects": True, "touches": False},
    )
    big = XPoly([(-1, -1), (5, -1), (5, 2), (-1, 2)])
    _check(predicates(big, arch), {"contains": True, "overlaps": False})
    _check(predicates(arch, big), {"within": True, "crosses": False})
    half = XPoly([(2, -1), (5, -1), (5, 2), (2, 2)])  # contains island 2 only
    _check(
        predicates(half, arch),
        {"contains": False, "overlaps": True, "intersects": True},
    )
    island_edge = XPoly([(1, 0), (3, 0), (3, 1), (1, 1)])  # shares island edges
    _check(predicates(island_edge, arch), {"touches": True, "overlaps": False})

    # annulus cases — including the known-subtle hole-filling polygon
    donut = XHoledPoly(
        [(0, 0), (6, 0), (6, 6), (0, 6), (0, 0)],
        [(2, 2), (4, 2), (4, 4), (2, 4), (2, 2)],
    )
    filler = XPoly([(2, 2), (4, 2), (4, 4), (2, 4)])  # exactly fills the hole
    _check(
        predicates(donut, filler),
        {"touches": True, "overlaps": False, "contains": False, "intersects": True},
    )
    _check(predicates(filler, donut), {"touches": True, "within": False})
    in_hole = XPoly([(2.5, 2.5), (3.5, 2.5), (3.5, 3.5), (2.5, 3.5)])
    _check(predicates(donut, in_hole), {"disjoint": True})
    _check(predicates(XLine([(2.5, 3), (3.5, 3)]), donut), {"disjoint": True})
    # line crossing the annulus wall: interior both sides of the hole ring
    _check(
        predicates(XLine([(1, 3), (3, 3)]), donut),
        {"crosses": True, "intersects": True, "touches": False},
    )
    # polygon spanning the hole: overlaps the donut (II in the wall, each
    # side keeps exclusive interior)
    spanning = XPoly([(1, 2), (5, 2), (5, 4), (1, 4)])
    _check(predicates(donut, spanning), {"overlaps": True, "contains": False})
    # donut contains a polygon inside the wall
    wall_piece = XPoly([(0, 0), (1, 0), (1, 1), (0, 1)])
    _check(predicates(donut, wall_piece), {"contains": True, "overlaps": False})

    # two holes: points in each hole disjoint, wall between them within,
    # a line threading hole-to-hole crosses
    two = XHoledPoly(
        [(0, 0), (8, 0), (8, 4), (0, 4)],
        [(1, 1), (2, 1), (2, 2), (1, 2)],
        [(5, 1), (7, 1), (7, 3), (5, 3)],
    )
    _check(predicates(XPoints([(1.5, 1.5)]), two), {"disjoint": True})
    _check(predicates(XLine([(3, 2), (4, 2)]), two), {"within": True})
    _check(predicates(XLine([(1.5, 1.5), (6, 2)]), two), {"crosses": True})
    # concave L-shell with a hole in the long arm; hole-filler touches
    Lh = XHoledPoly(
        [(0, 0), (6, 0), (6, 2), (2, 2), (2, 6), (0, 6)],
        [(3, 0.5), (4, 0.5), (4, 1.5), (3, 1.5)],
    )
    _check(
        predicates(Lh, XPoly([(3, 0.5), (4, 0.5), (4, 1.5), (3, 1.5)])),
        {"touches": True, "contains": False},
    )

    # concave: L-shape with a notch-filling square (boundary-only contact)
    L = XSimplePoly([(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4)])
    notch = XPoly([(2, 2), (4, 2), (4, 4), (2, 4)])
    _check(
        predicates(L, notch),
        {"touches": True, "overlaps": False, "contains": False, "intersects": True},
    )
    _check(predicates(L, XPoly([(0, 0), (1, 0), (1, 1), (0, 1)])), {"contains": True})
    _check(predicates(XPoints([(3, 3)]), L), {"disjoint": True})
    _check(predicates(XLine([(1, 3), (3, 3)]), L), {"crosses": True})
    # concave x concave: two interlocking Ls overlap
    L2 = XSimplePoly([(1, 1), (5, 1), (5, 5), (3, 5), (3, 3), (1, 3)])
    _check(predicates(L, L2), {"overlaps": True, "touches": False})


def _soup(rng: np.random.Generator, n: int):
    """Integer-lattice soup inside [0,5]^2 — small range maximizes collinear
    incidence. Returns (wkt, oracle_shape) pairs within the oracle's scope."""
    def _mp_wkt(rings_per_part):
        return "MULTIPOLYGON (" + ", ".join(
            "(" + ", ".join(
                "(" + ", ".join(f"{x} {y}" for x, y in r + [r[0]]) + ")"
                for r in part
            ) + ")"
            for part in rings_per_part
        ) + ")"

    def _rand_line(lo=0, hi=5, m_lo=2, m_hi=4):
        m = int(rng.integers(m_lo, m_hi))
        pts = [tuple(int(v) for v in p) for p in rng.integers(lo, hi, (m, 2))]
        pts = [p for i, p in enumerate(pts) if i == 0 or p != pts[i - 1]]
        return pts if len(pts) >= 2 else [(lo, lo), (lo + 1, lo + 1)]

    out = []
    while len(out) < n:
        kind = int(rng.integers(0, 34))
        if kind < 2:  # point
            x, y = (int(v) for v in rng.integers(0, 5, 2))
            out.append((f"POINT ({x} {y})", XPoints([(x, y)])))
        elif kind < 4:  # multipoint
            pts = [tuple(int(v) for v in p) for p in rng.integers(0, 5, (int(rng.integers(2, 5)), 2))]
            pts = sorted(set(pts))
            wkt = "MULTIPOINT (" + ", ".join(f"{x} {y}" for x, y in pts) + ")"
            out.append((wkt, XPoints(pts)))
        elif kind < 8:  # polyline (open, maybe self-touching), 2-4 segments
            m = int(rng.integers(2, 6))
            pts = [tuple(int(v) for v in p) for p in rng.integers(0, 5, (m, 2))]
            pts = [p for i, p in enumerate(pts) if i == 0 or p != pts[i - 1]]
            if len(pts) < 2:
                continue
            if int(rng.integers(0, 4)) == 0 and len(pts) >= 3 and pts[0] != pts[-1]:
                pts.append(pts[0])  # close it: empty-boundary adversary
            wkt = "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in pts) + ")"
            out.append((wkt, XLine(pts)))
        elif kind < 10:  # rectangle, optionally with a collinear mid-edge vertex
            x0, y0 = (int(v) for v in rng.integers(0, 4, 2))
            w, h = (int(v) for v in rng.integers(1, 4, 2))
            ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
            if w % 2 == 0 and int(rng.integers(0, 2)):
                ring.insert(1, (x0 + w // 2, y0))  # collinear vertex
            ring.append(ring[0])
            wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"
            out.append((wkt, XPoly(ring)))
        elif kind < 12:  # lattice triangle with positive area
            pts = [tuple(int(v) for v in p) for p in rng.integers(0, 5, (3, 2))]
            ax, ay = pts[0]
            area2 = (pts[1][0] - ax) * (pts[2][1] - ay) - (pts[1][1] - ay) * (
                pts[2][0] - ax
            )
            if area2 == 0:
                continue
            ring = pts + [pts[0]]
            wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"
            out.append((wkt, XPoly(ring)))
        elif kind < 14:  # multiline, 2 members (may cross / share endpoints)
            members = []
            for _ in range(2):
                m = int(rng.integers(2, 4))
                pts = [tuple(int(v) for v in p) for p in rng.integers(0, 5, (m, 2))]
                pts = [p for i, p in enumerate(pts) if i == 0 or p != pts[i - 1]]
                if len(pts) < 2:
                    pts = [(0, 0), (1, 1)]
                members.append(pts)
            if int(rng.integers(0, 3)) == 0:  # force a shared endpoint
                members[1][0] = members[0][-1]
                if members[1][0] == members[1][-1] and len(members[1]) == 2:
                    members[1][-1] = (
                        (members[1][0][0] + 1) % 5,
                        members[1][0][1],
                    )
            parts = ", ".join(
                "(" + ", ".join(f"{x} {y}" for x, y in m) + ")" for m in members
            )
            out.append((f"MULTILINESTRING ({parts})", XMultiLine(members)))
        elif kind < 16:  # archipelago: 2 rects separated in x (gap >= 1)
            y0, y1 = (int(v) for v in rng.integers(0, 4, 2))
            h0, h1 = (int(v) for v in rng.integers(1, 3, 2))
            r1 = [(0, y0), (1, y0), (1, y0 + h0), (0, y0 + h0), (0, y0)]
            x2 = int(rng.integers(2, 4))
            r2 = [
                (x2, y1),
                (x2 + 1, y1),
                (x2 + 1, y1 + h1),
                (x2, y1 + h1),
                (x2, y1),
            ]
            parts = ", ".join(
                "((" + ", ".join(f"{x} {y}" for x, y in r) + "))" for r in (r1, r2)
            )
            out.append((f"MULTIPOLYGON ({parts})", XMultiPoly([r1, r2])))
        elif kind < 18:  # holed: 1 hole in a 4-wide shell, or 2 holes in a
            # 5-wide shell (wall-threading / hole-to-hole adversaries)
            y0 = int(rng.integers(0, 2))
            h = int(rng.integers(3, 5))
            holes = []
            if int(rng.integers(0, 2)):
                x0, w = int(rng.integers(0, 2)), 4
                hw = int(rng.integers(1, 3))
                hh = min(hw, h - 2)
                holes.append([(x0 + 1, y0 + 1), (x0 + 1 + hw, y0 + 1),
                              (x0 + 1 + hw, y0 + 1 + hh), (x0 + 1, y0 + 1 + hh),
                              (x0 + 1, y0 + 1)])
            else:
                x0, w = 0, 5
                for hx in (1, 3):
                    holes.append([(hx, y0 + 1), (hx + 1, y0 + 1),
                                  (hx + 1, y0 + 2), (hx, y0 + 2), (hx, y0 + 1)])
            shell = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)]
            rings = [shell] + holes
            wkt = "POLYGON (" + ", ".join(
                "(" + ", ".join(f"{x} {y}" for x, y in r) + ")" for r in rings
            ) + ")"
            out.append((wkt, XHoledPoly(shell, *holes)))
        elif kind < 20:  # concave: random star-shaped simple lattice polygon
            import math

            k = int(rng.integers(4, 7))
            pts = sorted({tuple(int(v) for v in p) for p in rng.integers(0, 6, (k, 2))})
            if len(pts) < 4:
                continue
            cx = sum(x for x, _ in pts) / len(pts)
            cy = sum(y for _, y in pts) / len(pts)
            ring = sorted(pts, key=lambda p: math.atan2(p[1] - cy, p[0] - cx))
            ring.append(ring[0])
            try:  # angular ties / collinear soups are rejected by the
                shape = XSimplePoly(ring)  # exact simplicity assert
            except AssertionError:
                continue
            wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"
            out.append((wkt, shape))
        elif kind < 22:  # homogeneous GEOMETRYCOLLECTION of 2 linestrings:
            # the engine's relate flattens it into its line family, so
            # exact truth is the equivalent XMultiLine (incl. mod-2 at a
            # forced shared endpoint 1-in-3)
            members = []
            for _ in range(2):
                m = int(rng.integers(2, 4))
                pts = [tuple(int(v) for v in p) for p in rng.integers(0, 5, (m, 2))]
                pts = [p for i, p in enumerate(pts) if i == 0 or p != pts[i - 1]]
                if len(pts) < 2:
                    pts = [(0, 0), (2, 2)]
                members.append(pts)
            if int(rng.integers(0, 3)) == 0:
                members[1][0] = members[0][-1]
                if len(members[1]) == 2 and members[1][0] == members[1][-1]:
                    members[1][-1] = ((members[1][0][0] + 1) % 5, members[1][0][1])
            gc = ", ".join(
                "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in m) + ")"
                for m in members
            )
            out.append((f"GEOMETRYCOLLECTION ({gc})", XMultiLine(members)))
        elif kind < 23:  # concave: axis-aligned L-shape (notch corner on the lattice)
            x0, y0 = int(rng.integers(0, 2)), int(rng.integers(0, 2))
            w, h = int(rng.integers(2, 5)), int(rng.integers(2, 5))
            nw, nh = int(rng.integers(1, w)), int(rng.integers(1, h))
            ring = [
                (x0, y0),
                (x0 + w, y0),
                (x0 + w, y0 + h - nh),
                (x0 + w - nw, y0 + h - nh),
                (x0 + w - nw, y0 + h),
                (x0, y0 + h),
                (x0, y0),
            ]
            wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"
            out.append((wkt, XSimplePoly(ring)))
        elif kind < 25:  # touching-closure rect pair (r8): corner
            # contact, vertex-on-edge T contact, or a collinear shared-edge
            # run (engine min-locate convention on the run)
            x0, y0 = int(rng.integers(0, 2)), int(rng.integers(0, 2))
            w, h = int(rng.integers(1, 3)), int(rng.integers(1, 3))
            r1 = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
            w2, h2 = int(rng.integers(1, 3)), int(rng.integers(1, 3))
            mode = int(rng.integers(0, 3))
            if mode == 0:  # corner-to-corner at r1's NE vertex
                bx, by = x0 + w, y0 + h
            elif mode == 1:  # r2's SW corner on r1's top edge (T contact)
                bx, by = x0 + int(rng.integers(0, w + 1)), y0 + h
            else:  # shared-edge run along x = x0+w
                bx, by = x0 + w, y0 + int(rng.integers(0, h))
            r2 = [(bx, by), (bx + w2, by), (bx + w2, by + h2), (bx, by + h2)]
            out.append(
                (_mp_wkt([[r1], [r2]]),
                 XTouchMultiPoly([XPoly(r1), XPoly(r2)]))
            )
        elif kind < 26:  # a part nested in a sibling's HOLE: strictly
            # inside, corner-touching the hole ring, or filling the hole
            # exactly (the hole-evidence adversary from the r8 relate fix)
            d = int(rng.integers(0, 2))
            shell = [(d, 0), (d + 5, 0), (d + 5, 5), (d, 5)]
            hole = [(d + 1, 1), (d + 4, 1), (d + 4, 4), (d + 1, 4)]
            mode = int(rng.integers(0, 3))
            if mode == 0:  # strictly inside the hole
                filler = [(d + 2, 2), (d + 3, 2), (d + 3, 3), (d + 2, 3)]
            elif mode == 1:  # SW corner + two partial edges on the hole ring
                filler = [(d + 1, 1), (d + 2, 1), (d + 2, 2), (d + 1, 2)]
            else:  # fills the hole exactly (shared runs all around)
                filler = hole
            out.append(
                (_mp_wkt([[shell, hole], [filler]]),
                 XTouchMultiPoly([XHoledPoly(shell, hole), XPoly(filler)]))
            )
        elif kind < 27:  # CONCAVE (L-shaped) hole in a rect shell
            dx, dy = int(rng.integers(0, 2)), int(rng.integers(0, 2))
            shell = [(dx, dy), (dx + 5, dy), (dx + 5, dy + 5), (dx, dy + 5)]
            hl = [
                (dx + 1, dy + 1), (dx + 4, dy + 1), (dx + 4, dy + 2),
                (dx + 2, dy + 2), (dx + 2, dy + 4), (dx + 1, dy + 4),
            ]
            rings = [shell + [shell[0]], hl + [hl[0]]]
            wkt = "POLYGON (" + ", ".join(
                "(" + ", ".join(f"{x} {y}" for x, y in r) + ")" for r in rings
            ) + ")"
            out.append((wkt, XHoledPoly(shell, hl)))
        elif kind < 28:  # concave (L) shell WITH a hole in one arm
            shell = [(0, 0), (6, 0), (6, 3), (3, 3), (3, 6), (0, 6)]
            hx = 4 if rng.integers(0, 2) else 1
            hole = [(hx, 1), (hx + 1, 1), (hx + 1, 2), (hx, 2)]
            rings = [shell + [shell[0]], hole + [hole[0]]]
            wkt = "POLYGON (" + ", ".join(
                "(" + ", ".join(f"{x} {y}" for x, y in r) + ")" for r in rings
            ) + ")"
            out.append((wkt, XHoledPoly(shell, hole)))
        elif kind < 29:  # concave L part + rect snapped into its notch
            # (interiors disjoint, closures share two edge runs)
            L = [(0, 0), (4, 0), (4, 4), (2, 4), (2, 2), (0, 2)]
            if int(rng.integers(0, 2)):
                fill = [(0, 2), (2, 2), (2, 4), (0, 4)]  # fills the notch
            else:
                fill = [(0, 2), (1, 2), (1, 4), (0, 4)]  # half-fills it
            out.append(
                (_mp_wkt([[L], [fill]]),
                 XTouchMultiPoly([XSimplePoly(L), XPoly(fill)]))
            )
        elif kind < 31:  # heterogeneous GC: rect + line (1-in-3: snap the
            # line's start onto the rect ring so linework rides/roots there;
            # 1-in-4: the areal family is a TOUCHING rect pair, so the GC
            # routing must interplay with the parts-safety guard)
            x0, y0 = int(rng.integers(0, 3)), int(rng.integers(0, 3))
            w, h = int(rng.integers(1, 3)), int(rng.integers(1, 3))
            ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
            pts = _rand_line()
            if int(rng.integers(0, 3)) == 0:
                pts[0] = ring[int(rng.integers(0, 4))]
                if len(pts) == 2 and pts[0] == pts[1]:
                    pts[1] = ((pts[0][0] + 2) % 5, pts[0][1])
            line_wkt = "LINESTRING (" + ", ".join(
                f"{x} {y}" for x, y in pts
            ) + ")"
            if int(rng.integers(0, 4)) == 0:
                bx, by = x0 + w, y0 + (h if rng.integers(0, 2) else 0)
                r2 = [(bx, by), (bx + 1, by), (bx + 1, by + 1), (bx, by + 1)]
                wkt = (
                    "GEOMETRYCOLLECTION ("
                    + _mp_wkt([[ring], [r2]])
                    + f", {line_wkt})"
                )
                out.append(
                    (wkt, XGC(XTouchMultiPoly([XPoly(ring), XPoly(r2)]),
                              XLine(pts)))
                )
            else:
                wkt = (
                    "GEOMETRYCOLLECTION (POLYGON (("
                    + ", ".join(f"{x} {y}" for x, y in ring + [ring[0]])
                    + f")), {line_wkt})"
                )
                out.append((wkt, XGC(XPoly(ring), XLine(pts))))
        elif kind < 32:  # heterogeneous GC: rect + line + point
            x0, y0 = int(rng.integers(0, 3)), int(rng.integers(0, 3))
            w, h = int(rng.integers(1, 3)), int(rng.integers(1, 3))
            ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
            pts = _rand_line()
            px, py = (int(v) for v in rng.integers(0, 5, 2))
            wkt = (
                "GEOMETRYCOLLECTION (POLYGON (("
                + ", ".join(f"{x} {y}" for x, y in ring + [ring[0]])
                + ")), LINESTRING ("
                + ", ".join(f"{x} {y}" for x, y in pts)
                + f"), POINT ({px} {py}))"
            )
            out.append(
                (wkt, XGC(XPoly(ring), XLine(pts), XPoints([(px, py)])))
            )
        elif kind < 33:  # NESTED GC: the engine flattens members
            # recursively, so exact truth is the flattened union
            x0, y0 = int(rng.integers(0, 3)), int(rng.integers(0, 3))
            ring = [(x0, y0), (x0 + 2, y0), (x0 + 2, y0 + 2), (x0, y0 + 2)]
            pts = _rand_line()
            wkt = (
                "GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POLYGON (("
                + ", ".join(f"{x} {y}" for x, y in ring + [ring[0]])
                + "))), LINESTRING ("
                + ", ".join(f"{x} {y}" for x, y in pts)
                + "))"
            )
            out.append((wkt, XGC(XPoly(ring), XLine(pts))))
        else:  # dim-1 heterogeneous GC: line + multipoint (a member point
            # ON the line 1-in-2 — union-interior either way)
            pts = _rand_line(m_hi=5)
            if int(rng.integers(0, 2)):
                mp = [pts[int(rng.integers(0, len(pts)))]]
            else:
                mp = [tuple(int(v) for v in rng.integers(0, 5, 2))]
            mp.append((int(rng.integers(0, 5)), int(rng.integers(0, 5))))
            wkt = (
                "GEOMETRYCOLLECTION (LINESTRING ("
                + ", ".join(f"{x} {y}" for x, y in pts)
                + "), MULTIPOINT ("
                + ", ".join(f"{x} {y}" for x, y in sorted(set(mp)))
                + "))"
            )
            out.append((wkt, XGC(XLine(pts), XPoints(mp))))
    return out


def _scalar_vs_oracle(left: tuple, rights: list) -> tuple:
    """One left geometry of the scalar sweep against every right, all
    predicates in both directions. Runs in a sweep_pool worker; returns
    (comparisons made, disagreements)."""
    lw, lo = left
    ga = from_wkt(lw)
    bad = []
    n = 0
    for rw, ro in rights:
        gb = from_wkt(rw)
        truth = predicates(lo, ro)
        truth_rev = predicates(ro, lo)
        for p in PREDICATES:
            n += 2
            if bool(getattr(alg, p)(ga, gb)) != truth[p]:
                bad.append((p, "fwd", lw, rw))
            if bool(getattr(alg, p)(gb, ga)) != truth_rev[p]:
                bad.append((p, "rev", lw, rw))
    return n, bad


@pytest.mark.parametrize("seed", (1, 2))
def test_engine_scalar_vs_exact_oracle(seed):
    rng = np.random.default_rng(20260817 + seed)
    lefts = _soup(rng, 55)
    rights = _soup(rng, 30)
    per_left = sweep(_scalar_vs_oracle, lefts, rights)
    n = sum(n for n, _ in per_left)
    bad = [b for _, part in per_left for b in part]
    assert n == len(lefts) * len(rights) * len(PREDICATES) * 2
    assert not bad, (len(bad), bad[:6])


def test_sweep_detects_a_broken_engine():
    """Mutation guard for the harness itself: a deliberately wrong engine
    predicate must produce disagreements on a small soup — if this ever
    passes silently the sweep has gone vacuous (e.g. the soup stopped
    generating touching pairs) and proves nothing."""
    rng = np.random.default_rng(20260817 + 1)
    lefts = _soup(rng, 20)
    rights = _soup(rng, 12)
    disagreements = 0
    for lw, lo in lefts:
        ga = from_wkt(lw)
        for rw, ro in rights:
            gb = from_wkt(rw)
            # mutant: 'touches' answered as 'intersects' (a classic
            # boundary-vs-interior confusion)
            if bool(alg.intersects(ga, gb)) != predicates(lo, ro)["touches"]:
                disagreements += 1
    assert disagreements >= 10, disagreements


def _oracle_truths(left: tuple, rights: list) -> list:
    """Exact (forward, reverse) predicate truths of one left geometry
    against every right. Runs in a sweep_pool worker."""
    _, lo = left
    return [(predicates(lo, ro), predicates(ro, lo)) for _, ro in rights]


def _refine_vs_truths(p: str, lw, rw, truths: list) -> list:
    """One predicate of the join refine's batch path, both directions,
    against the exact truths. Runs in a sweep_pool worker."""
    from geomesa_spark.operators.spatial_join import _pairwise_predicate_fn

    fn = _pairwise_predicate_fn(p)
    got = fn(lw, rw)
    got_rev = fn(rw, lw)
    bad = []
    for (t_fwd, t_rev), g1, g2 in zip(truths, got, got_rev):
        if bool(g1) != t_fwd[p]:
            bad.append((p, "fwd"))
        if bool(g2) != t_rev[p]:
            bad.append((p, "rev"))
    return bad


@pytest.mark.parametrize("seed", (1,))
def test_join_refine_batch_vs_exact_oracle(seed):
    """Close the triangle: scalar==oracle above, batch==scalar in the float
    sweeps — this compares the production JOIN refine path directly against
    exact truth on the same integer soups."""
    import pandas as pd

    from geomesa_spark.geom.wkb import to_wkb

    rng = np.random.default_rng(20260817 + seed)
    lefts = _soup(rng, 55)
    rights = _soup(rng, 30)
    lw = pd.Series(
        [bytes(to_wkb(from_wkt(w))) for w, _ in lefts for _ in rights], dtype=object
    )
    rw = pd.Series(
        [bytes(to_wkb(from_wkt(w))) for _ in lefts for w, _ in rights], dtype=object
    )
    truths = [t for part in sweep(_oracle_truths, lefts, rights) for t in part]
    bad = [b for part in sweep(_refine_vs_truths, list(PREDICATES), lw, rw, truths) for b in part]
    assert not bad, (len(bad), bad[:6])


def _union_vs_specialized(left: tuple, rights: list) -> list:
    """Non-GC pairs of one left geometry where the generic union assembly
    and the specialized one disagree. Runs in a sweep_pool worker."""
    lw, lo = left
    bad = []
    for rw, ro in rights:
        if isinstance(lo, XGC) or isinstance(ro, XGC):
            continue  # GC pairs have no specialized path to compare
        if predicates(lo, ro) != predicates_union(lo, ro):
            bad.append((lw, rw))
    return bad


@pytest.mark.parametrize("seed", (1,))
def test_union_assembly_cross_check(seed):
    """The generic _im_union witness-enumeration assembly (the only path
    available for mixed-family GCs) must agree with the SPECIALIZED
    assemblies on every non-GC pair — two independently-derived exact
    constructions validating each other, so a bug in either shows up as a
    disagreement before it can silently validate a matching engine bug."""
    rng = np.random.default_rng(20260817 + seed)
    lefts = _soup(rng, 40)
    rights = _soup(rng, 20)
    bad = [b for part in sweep(_union_vs_specialized, lefts, rights) for b in part]
    assert not bad, (len(bad), bad[:4])


def test_oracle_gc_textbook_cases():
    # line poking out of its sibling rect: II (line inside) + IE -> not
    # within the rect's closure; the GC covers the rect, not vice versa
    gc = XGC(XPoly([(0, 0), (2, 0), (2, 2), (0, 2)]), XLine([(1, 1), (4, 1)]))
    rect = XPoly([(0, 0), (2, 0), (2, 2), (0, 2)])
    _check(predicates(gc, rect), {"covers": True, "within": False, "intersects": True})
    big = XPoly([(-1, -1), (5, -1), (5, 5), (-1, 5)])
    _check(predicates(gc, big), {"within": True, "touches": False})
    # line entirely inside the sibling: the GC degenerates to the rect
    gc2 = XGC(XPoly([(0, 0), (3, 0), (3, 3), (0, 3)]), XLine([(1, 1), (2, 2)]))
    r2 = XPoly([(0, 0), (3, 0), (3, 3), (0, 3)])
    _check(predicates(gc2, r2), {"within": True, "covers": True})
    # boundary-only contact through the line member: touches
    gc3 = XGC(XPoly([(0, 0), (2, 0), (2, 2), (0, 2)]), XLine([(2, 1), (4, 1)]))
    far = XPoly([(4, 0), (6, 0), (6, 2), (4, 2)])
    _check(predicates(gc3, far), {"touches": True, "intersects": True})
    # areal-bearing GC vs areal partner reached only by the line member:
    # equal max-dims, so SFS crosses is structurally False — the contact
    # shows up as 1-dim II instead (overlaps under the T*T***T** pattern)
    gc4 = XGC(XPoly([(0, 0), (1, 0), (1, 1), (0, 1)]), XLine([(2, 3), (6, 3)]))
    target = XPoly([(3, 2), (5, 2), (5, 4), (3, 4)])
    _check(
        predicates(gc4, target),
        {"crosses": False, "within": False, "intersects": True, "overlaps": True},
    )
    # dim-1 GC (line + far point) genuinely CROSSES the areal partner
    gc4b = XGC(XLine([(2, 3), (6, 3)]), XPoints([(0, 0)]))
    _check(predicates(gc4b, target), {"crosses": True, "within": False})
    # dim-1 GC (line + off-line point) vs a line riding it: the point adds
    # IE evidence so the riding line no longer covers the GC
    gc5 = XGC(XLine([(0, 0), (4, 0)]), XPoints([(1, 3)]))
    ride = XLine([(0, 0), (5, 0)])
    _check(predicates(gc5, ride), {"within": False, "intersects": True})
    _check(predicates(ride, gc5), {"covers": False})

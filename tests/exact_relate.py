"""Exact rational-arithmetic DE-9IM oracle (independent of the engine).

Every coordinate is converted to `fractions.Fraction` — floats are exact
binary rationals, so on integer-lattice fixtures every orientation test,
intersection point, and point-in-polygon answer computed here is EXACT
ground truth (what an ideal robust-geometry implementation returns on the
same inputs). The production engine (geomesa_spark.geom.algorithms) computes
in float with deliberate eps tolerances; on integer lattices the tolerances
must never change an answer, so any disagreement with this oracle is a real
engine bug, not a robustness judgment call.

Scope (documented, enforced by the fixture generator):
- POINT / MULTIPOINT (dim 0)
- LINESTRING, open or closed, self-touching allowed, no zero-length
  segments (dim 1); SFS mod-2 boundary: {p0, pn} if p0 != pn else empty
- MULTILINESTRING with the full Mod2BoundaryNodeRule (shared member
  endpoints of even count are INTERIOR)
- CONVEX polygon, positive area, collinear ("mid-edge") vertices allowed;
  ARBITRARY simple polygon (concave, via exact ear-clip triangulation and
  crossing-number locate); optionally ONE convex hole strictly inside a
  convex shell (annulus); and MULTIPOLYGON of convex parts with pairwise
  disjoint closures (dim 2) — area terms decompose exactly over signed
  convex part pairs (triangles for concave rings)

Degenerate shapes (zero-length lines, zero-area polygons) and touching-part
multis are exercised by the float lattice sweeps in
test_lattice_sweep_property.py; this module is the exact-truth anchor for
the adversarial core where collinear incidence bugs live.

The DE-9IM here is assembled set-theoretically from first principles
(interior/boundary/exterior intersections with exact dims), NOT by porting
the engine's relate — a shared-logic bug cannot pass both.
"""

from __future__ import annotations

from fractions import Fraction as Fr

# ---------------------------------------------------------------- primitives


def _pt(p):
    return (Fr(p[0]), Fr(p[1]))


def _orient(a, b, c) -> int:
    v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    return (v > 0) - (v < 0)


def _on_seg(p, a, b) -> bool:
    """p lies on closed segment [a, b] (a != b)."""
    if _orient(a, b, p) != 0:
        return False
    return (
        min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
    )


def _seg_param(p, a, b) -> Fr:
    """Param t of p along [a,b] (p collinear-on the segment)."""
    dx, dy = b[0] - a[0], b[1] - a[1]
    if abs(dx) >= abs(dy):
        return (p[0] - a[0]) / dx
    return (p[1] - a[1]) / dy


def _seg_inter(a, b, c, d):
    """Exact intersection of closed segments [a,b] and [c,d] (both
    non-degenerate). Returns ('none',), ('pt', p), or ('seg', p, q)."""
    d1 = _orient(c, d, a)
    d2 = _orient(c, d, b)
    d3 = _orient(a, b, c)
    d4 = _orient(a, b, d)
    if d1 == 0 and d2 == 0:  # collinear
        ta, tb = Fr(0), Fr(1)
        tc, td = _seg_param(c, a, b), _seg_param(d, a, b)
        lo, hi = max(ta, min(tc, td)), min(tb, max(tc, td))
        if lo > hi:
            return ("none",)
        p = (a[0] + lo * (b[0] - a[0]), a[1] + lo * (b[1] - a[1]))
        q = (a[0] + hi * (b[0] - a[0]), a[1] + hi * (b[1] - a[1]))
        return ("pt", p) if lo == hi else ("seg", p, q)
    if d1 * d2 > 0 or d3 * d4 > 0:
        return ("none",)
    # touch or proper cross; solve exactly
    if d1 == 0:
        return ("pt", a) if _on_seg(a, c, d) else ("none",)
    if d2 == 0:
        return ("pt", b) if _on_seg(b, c, d) else ("none",)
    if d3 == 0:
        return ("pt", c) if _on_seg(c, a, b) else ("none",)
    if d4 == 0:
        return ("pt", d) if _on_seg(d, a, b) else ("none",)
    denom = (b[0] - a[0]) * (d[1] - c[1]) - (b[1] - a[1]) * (d[0] - c[0])
    t = ((c[0] - a[0]) * (d[1] - c[1]) - (c[1] - a[1]) * (d[0] - c[0])) / denom
    return ("pt", (a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1])))


# ------------------------------------------------------------- oracle shapes


class XPoints:
    """Point set (POINT / MULTIPOINT). Interior = the points, boundary = {}."""

    dim = 0

    def __init__(self, pts):
        self.pts = sorted({_pt(p) for p in pts})


class XLine:
    """Single polyline, no zero-length segments. SFS mod-2 boundary."""

    dim = 1

    def __init__(self, pts):
        self.v = [_pt(p) for p in pts]
        assert len(self.v) >= 2
        for s, e in zip(self.v, self.v[1:]):
            assert s != e, "zero-length segment out of oracle scope"
        self.segs = list(zip(self.v, self.v[1:]))
        self.closed = self.v[0] == self.v[-1]
        self.boundary_pts = set() if self.closed else {self.v[0], self.v[-1]}

    def locate(self, p) -> str:
        """I / B / E of point p against this line (as a point set)."""
        if p in self.boundary_pts:
            return "B"
        return "I" if any(_on_seg(p, a, b) for a, b in self.segs) else "E"


class XMultiLine:
    """MULTILINESTRING: member polylines may cross/touch/overlap freely.
    SFS Mod2BoundaryNodeRule: a point is boundary iff it is a (non-closed)
    member endpoint an odd number of times — even if another member passes
    through it."""

    dim = 1

    def __init__(self, members):
        self.members = [[_pt(p) for p in m] for m in members]
        self.segs = []
        counts: dict = {}
        for v in self.members:
            assert len(v) >= 2
            for s, e in zip(v, v[1:]):
                assert s != e, "zero-length segment out of oracle scope"
            self.segs.extend(zip(v, v[1:]))
            if v[0] != v[-1]:  # closed members contribute no boundary
                for p in (v[0], v[-1]):
                    counts[p] = counts.get(p, 0) + 1
        self.boundary_pts = {p for p, c in counts.items() if c % 2 == 1}

    def locate(self, p) -> str:
        if p in self.boundary_pts:
            return "B"
        return "I" if any(_on_seg(p, a, b) for a, b in self.segs) else "E"


class XPoly:
    """Single convex polygon (ring given CCW, closed or open list ok)."""

    dim = 2

    def __init__(self, pts):
        v = [_pt(p) for p in pts]
        if v[0] == v[-1]:
            v = v[:-1]
        # drop consecutive duplicates, keep collinear vertices
        out = [p for i, p in enumerate(v) if p != v[(i - 1) % len(v)]]
        assert len(out) >= 3
        self.v = out
        if self._area2() < 0:
            self.v = self.v[::-1]
        assert self._area2() > 0, "zero-area polygon out of oracle scope"
        n = len(self.v)
        self.edges = [(self.v[i], self.v[(i + 1) % n]) for i in range(n)]
        assert all(
            _orient(self.v[i], self.v[(i + 1) % len(self.v)], q) >= 0
            for i in range(len(self.v))
            for q in self.v
        ), "non-convex polygon out of oracle scope"

    def _area2(self) -> Fr:
        n = len(self.v)
        return sum(
            self.v[i][0] * self.v[(i + 1) % n][1]
            - self.v[(i + 1) % n][0] * self.v[i][1]
            for i in range(n)
        )

    def area(self) -> Fr:
        return self._area2() / 2

    def locate(self, p) -> str:
        for a, b in self.edges:
            if _on_seg(p, a, b):
                return "B"
        # convex: strictly inside iff strictly left of every CCW edge with
        # collinear vertices tolerated (orient 0 only happens ON the edge
        # line; the boundary check above already returned for those)
        return (
            "I"
            if all(_orient(a, b, p) > 0 for a, b in self.edges if a != b)
            else "E"
        )

    @property
    def signed_parts(self):
        return [(self, 1)]


def _in_closed_tri(q, a, b, c) -> bool:
    """q in the CLOSED CCW triangle abc (boundary counts)."""
    return _orient(a, b, q) >= 0 and _orient(b, c, q) >= 0 and _orient(c, a, q) >= 0


def _is_simple_ring(v) -> bool:
    """Exact simplicity: distinct vertices; adjacent edges meet only at the
    shared vertex; non-adjacent edges are disjoint."""
    n = len(v)
    if len(set(v)) != n:
        return False
    edges = [(v[i], v[(i + 1) % n]) for i in range(n)]
    for i in range(n):
        for j in range(i + 1, n):
            hit = _seg_inter(*edges[i], *edges[j])
            if j == i + 1 or (i == 0 and j == n - 1):
                shared = edges[i][1] if j == i + 1 else edges[i][0]
                if hit[0] == "seg" or (hit[0] == "pt" and hit[1] != shared):
                    return False
            elif hit[0] != "none":
                return False
    return True


def _triangulate(v):
    """Exact ear clipping of a simple CCW ring (collinear vertices dropped —
    area-neutral, and in a simple polygon no other edge passes through
    them). Returns a list of CCW triangles with disjoint interiors whose
    union is the polygon."""
    verts = list(v)
    tris = []
    while len(verts) > 3:
        n = len(verts)
        # drop collinear vertices first
        dropped = False
        for i in range(n):
            if _orient(verts[(i - 1) % n], verts[i], verts[(i + 1) % n]) == 0:
                verts.pop(i)
                dropped = True
                break
        if dropped:
            continue
        found = False
        for i in range(n):
            a, b, c = verts[(i - 1) % n], verts[i], verts[(i + 1) % n]
            if _orient(a, b, c) <= 0:
                continue  # reflex: not an ear
            if any(
                q not in (a, b, c) and _in_closed_tri(q, a, b, c) for q in verts
            ):
                continue  # another vertex inside/on the candidate ear
            tris.append((a, b, c))
            verts.pop(i)
            found = True
            break
        assert found, "ear clipping failed — non-simple ring?"
    if _orient(*verts) != 0:
        tris.append(tuple(verts))
    return tris


class XSimplePoly:
    """ARBITRARY simple polygon (concave allowed, no holes, no self-touch).
    Interior membership by exact crossing-number ray cast; area terms via
    exact ear-clip triangulation into convex parts (disjoint interiors, so
    the signed-part decomposition stays valid)."""

    dim = 2

    def __init__(self, pts):
        v = [_pt(p) for p in pts]
        if v[0] == v[-1]:
            v = v[:-1]
        out = [p for i, p in enumerate(v) if p != v[(i - 1) % len(v)]]
        assert len(out) >= 3
        self.v = out
        if self._area2() < 0:
            self.v = self.v[::-1]
        assert self._area2() > 0, "zero-area polygon out of oracle scope"
        assert _is_simple_ring(self.v), "self-intersecting ring out of scope"
        n = len(self.v)
        self.edges = [(self.v[i], self.v[(i + 1) % n]) for i in range(n)]
        self._tris = [XPoly(t) for t in _triangulate(self.v)]
        assert sum(t._area2() for t in self._tris) == self._area2()

    def _area2(self) -> Fr:
        n = len(self.v)
        return sum(
            self.v[i][0] * self.v[(i + 1) % n][1]
            - self.v[(i + 1) % n][0] * self.v[i][1]
            for i in range(n)
        )

    @property
    def signed_parts(self):
        return [(t, 1) for t in self._tris]

    def locate(self, p) -> str:
        for a, b in self.edges:
            if _on_seg(p, a, b):
                return "B"
        cnt = 0
        for a, b in self.edges:  # exact crossing number, horizontal-safe
            if (a[1] <= p[1] < b[1]) or (b[1] <= p[1] < a[1]):
                t = (p[1] - a[1]) / (b[1] - a[1])
                if a[0] + t * (b[0] - a[0]) > p[0]:
                    cnt += 1
        return "I" if cnt % 2 else "E"


class XHoledPoly:
    """POLYGON with holes: any SIMPLE shell (concave allowed) minus one or
    more simple holes, each hole STRICTLY inside the shell and holes
    pairwise strictly disjoint (no ring contact — the generator enforces
    gaps). Interior = shell interior minus hole closures; boundary = all
    rings. Signed-part decomposition keeps area terms exact:
    (S − ΣHᵢ) ∩ B = (S∩B) − Σ(Hᵢ∩B) because Hᵢ ⊆ S and the Hᵢ are
    disjoint; each ring decomposes into triangles for concave cases."""

    dim = 2

    def __init__(self, shell, *holes):
        self.shell = XSimplePoly(shell)
        assert holes
        self.holes = [XSimplePoly(h) for h in holes]
        # vertex checks alone are not enough for CONCAVE rings — also require
        # zero ring-ring edge intersections, which with all-vertices-inside
        # (resp. outside) pins full containment (resp. disjointness)
        for hole in self.holes:
            assert all(
                self.shell.locate(p) == "I" for p in hole.v
            ) and all(
                _seg_inter(*he, *se)[0] == "none"
                for he in hole.edges
                for se in self.shell.edges
            ), "hole must be strictly inside the shell"
        for i, a in enumerate(self.holes):
            for b in self.holes[i + 1 :]:
                assert (
                    all(b.locate(p) == "E" for p in a.v)
                    and all(a.locate(p) == "E" for p in b.v)
                    and all(
                        _seg_inter(*ea, *eb)[0] == "none"
                        for ea in a.edges
                        for eb in b.edges
                    )
                ), "holes must be pairwise strictly disjoint"
        self.edges = self.shell.edges + [e for h in self.holes for e in h.edges]

    @property
    def signed_parts(self):
        parts = list(self.shell.signed_parts)
        for hole in self.holes:
            parts.extend((t, -s) for t, s in hole.signed_parts)
        return parts

    def _area2(self) -> Fr:
        return self.shell._area2() - sum(h._area2() for h in self.holes)

    def locate(self, p) -> str:
        s = self.shell.locate(p)
        if s != "I":
            return s
        for hole in self.holes:
            h = hole.locate(p)
            if h == "I":
                return "E"
            if h == "B":
                return "B"
        return "I"


class XMultiPoly:
    """MULTIPOLYGON of convex parts with pairwise DISJOINT CLOSURES (no
    touching) — then interior(A) = union of part interiors and boundary(A)
    = union of rings, so every 9IM entry decomposes over parts (the
    fixture generator enforces separation): the valid 'archipelago'
    shape."""

    dim = 2

    def __init__(self, rings):
        self._parts = [XPoly(r) for r in rings]
        assert len(self._parts) >= 2
        for i, a in enumerate(self._parts):
            for b in self._parts[i + 1 :]:
                assert not (
                    max(p[0] for p in a.v) >= min(p[0] for p in b.v)
                    and max(p[0] for p in b.v) >= min(p[0] for p in a.v)
                    and max(p[1] for p in a.v) >= min(p[1] for p in b.v)
                    and max(p[1] for p in b.v) >= min(p[1] for p in a.v)
                ), "parts must have disjoint (non-touching) bboxes"
        self.edges = [e for p in self._parts for e in p.edges]

    @property
    def signed_parts(self):
        return [(p, 1) for p in self._parts]

    def _area2(self) -> Fr:
        return sum(p._area2() for p in self._parts)

    def locate(self, p) -> str:
        for part in self._parts:
            loc = part.locate(p)
            if loc != "E":
                return loc
        return "E"


class XTouchMultiPoly:
    """MULTIPOLYGON whose parts may be ANY oracle poly shape (convex,
    concave-simple, holed) with pairwise-DISJOINT INTERIORS but TOUCHING
    closures — corner contacts, vertex-on-edge T-contacts, and collinear
    shared edge runs, including a part nested inside a sibling's hole.

    Interior-disjointness is verified EXACTLY: the signed-part pairwise
    clip area between any two parts must be zero (boundary contact is
    measure-zero and cannot hide there). With disjoint interiors no part's
    ring can enter a sibling's interior, so interior(A) = union of part
    interiors and boundary(A) = union of rings — the min-locate union
    convention the engine documents — and the existing poly-poly assembly
    (signed-part inclusion-exclusion + ring covers) stays exact.
    NOTE on shared edges: OGC validity only allows boundaries to meet at
    finitely many POINTS; for collinear shared runs this class pins the
    engine's documented min-locate convention (the shared run stays
    boundary), which differs from the open-set union topology there."""

    dim = 2

    def __init__(self, parts):
        self._parts = list(parts)
        assert len(self._parts) >= 2
        for i, a in enumerate(self._parts):
            for b in self._parts[i + 1 :]:
                k2 = sum(
                    sa * sb * _clip_area2(_convex_clip(pa, pb))
                    for pa, sa in a.signed_parts
                    for pb, sb in b.signed_parts
                )
                assert k2 == 0, "parts must have disjoint interiors"
        self.edges = [e for p in self._parts for e in p.edges]

    @property
    def signed_parts(self):
        return [sp for p in self._parts for sp in p.signed_parts]

    def _area2(self) -> Fr:
        return sum(p._area2() for p in self._parts)

    def locate(self, p) -> str:
        best = "E"
        for part in self._parts:
            loc = part.locate(p)
            if loc == "I":
                return "I"
            if loc == "B":
                best = "B"
        return best


class XGC:
    """GEOMETRYCOLLECTION mixing dimension families — exact truth under the
    engine's documented min-locate union convention:
      interior(GC) = union of member interiors (a point member's interior
      is the point itself — SFS empty point boundary),
      boundary(GC) = (union of member boundaries) minus interior(GC).
    For generic-position mixes this IS the point-set union topology; on
    degenerate contacts (a line member riding an areal ring) it pins the
    documented convention, the same way the oracle pins SFS mod-2 for
    multilines. Members: at most one areal shape, one lineal shape
    (XLine/XMultiLine), one XPoints — the engine normalizes same-family
    members into one MULTI family before relating, so fixtures pre-merge."""

    def __init__(self, *members):
        self.P2 = self.P1 = self.P0 = None
        for m in members:
            if isinstance(m, _POLY):
                assert self.P2 is None
                self.P2 = m
            elif isinstance(m, _LINE):
                assert self.P1 is None
                self.P1 = m
            elif isinstance(m, XPoints):
                assert self.P0 is None
                self.P0 = m
            else:
                raise TypeError(type(m))
        assert sum(x is not None for x in (self.P2, self.P1, self.P0)) >= 2

    @property
    def dim(self) -> int:
        return 2 if self.P2 is not None else (1 if self.P1 is not None else 0)


class _XFam:
    """Family view of a non-GC shape so _im_union treats every operand
    uniformly."""

    def __init__(self, g):
        self.P2 = g if isinstance(g, _POLY) else None
        self.P1 = g if isinstance(g, _LINE) else None
        self.P0 = g if isinstance(g, XPoints) else None


def _families(g):
    return g if isinstance(g, XGC) else _XFam(g)


def _locate_u(f, p) -> str:
    """Min-locate of p against a family view: I beats B beats E."""
    if f.P0 is not None and p in f.P0.pts:
        return "I"
    best = "E"
    for fam in (f.P2, f.P1):
        if fam is None:
            continue
        loc = fam.locate(p)
        if loc == "I":
            return "I"
        if loc == "B":
            best = "B"
    return best


def _fam_carriers(f):
    """Every 1-dim carrier segment: areal ring edges + lineal segments."""
    segs = []
    if f.P2 is not None:
        segs.extend(f.P2.edges)
    if f.P1 is not None:
        segs.extend(f.P1.segs)
    return segs


def _fam_point_feats(f):
    pts = []
    if f.P0 is not None:
        pts.extend(f.P0.pts)
    if f.P1 is not None:
        pts.extend(f.P1.boundary_pts)
    return pts


def _im_union(A, B) -> list:
    """Generic witness-enumeration 9IM for operands with family views
    (either side may be an XGC). 2-dim cells come from the areal families'
    exact signed-part clip areas (lineal/point members are measure-zero);
    1-dim cells from classifying the exact midpoint of every carrier
    sub-segment after splitting at EVERY feature of both sides (each open
    sub-segment is then homogeneous in both operands' min-locate); 0-dim
    cells from classifying every arrangement vertex (split points, carrier
    endpoints, point members, mod-2 line boundaries). Cell value = max
    dimension over witnesses, so lower-dim witnesses never overstate."""
    fa, fb = _families(A), _families(B)
    M = [[E] * 3 for _ in range(3)]
    M[2][2] = 2
    if fa.P2 is not None and fb.P2 is not None:
        k2 = sum(
            sa * sb * _clip_area2(_convex_clip(pa, pb))
            for pa, sa in fa.P2.signed_parts
            for pb, sb in fb.P2.signed_parts
        )
        if k2 > 0:
            M[0][0] = 2
        if fa.P2._area2() > k2:
            M[0][2] = 2
        if fb.P2._area2() > k2:
            M[2][0] = 2
    elif fa.P2 is not None:
        M[0][2] = 2
    elif fb.P2 is not None:
        M[2][0] = 2

    def upd(r: str, c: str, d: int):
        ri, ci = "IBE".index(r), "IBE".index(c)
        if M[ri][ci] < d:
            M[ri][ci] = d

    segs_a, segs_b = _fam_carriers(fa), _fam_carriers(fb)
    pf = _fam_point_feats(fa) + _fam_point_feats(fb)
    cands = set(pf)
    all_segs = segs_a + segs_b
    for seg in all_segs:
        a, b = seg
        if a == b:
            continue
        ts = set(_split_points(seg, all_segs))
        for q in pf:
            if _on_seg(q, a, b):
                ts.add(_seg_param(q, a, b))
        ts = sorted(ts)
        for t in ts:
            cands.add((a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1])))
        for t0, t1 in zip(ts, ts[1:]):
            if t0 == t1:
                continue
            tm = (t0 + t1) / 2
            m = (a[0] + tm * (b[0] - a[0]), a[1] + tm * (b[1] - a[1]))
            upd(_locate_u(fa, m), _locate_u(fb, m), 1)
    for p in cands:
        upd(_locate_u(fa, p), _locate_u(fb, p), 0)
    return M


# --------------------------------------------------- split-and-classify core


def _split_points(seg, other_segs):
    """Exact params along `seg` of every intersection feature with the
    other shape's segments (overlap endpoints included)."""
    a, b = seg
    ts = {Fr(0), Fr(1)}
    for c, d in other_segs:
        hit = _seg_inter(a, b, c, d)
        if hit[0] == "pt":
            ts.add(_seg_param(hit[1], a, b))
        elif hit[0] == "seg":
            ts.add(_seg_param(hit[1], a, b))
            ts.add(_seg_param(hit[2], a, b))
    return sorted(t for t in ts if 0 <= t <= 1)


def _sub_midpoints(seg, other_segs):
    """Midpoint of every open sub-segment of `seg` after splitting at all
    intersections with other_segs — each open sub-segment lies entirely
    inside or entirely outside the other shape, so one exact midpoint
    classification decides it."""
    a, b = seg
    ts = _split_points(seg, other_segs)
    mids = []
    for t0, t1 in zip(ts, ts[1:]):
        if t0 == t1:
            continue
        tm = (t0 + t1) / 2
        mids.append((a[0] + tm * (b[0] - a[0]), a[1] + tm * (b[1] - a[1])))
    return mids


def _line_hit(p, q, a, b):
    """Exact intersection of segment [p,q] with the INFINITE line through
    a,b — p and q strictly straddle the line (caller guarantees)."""
    fp = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
    fq = (b[0] - a[0]) * (q[1] - a[1]) - (b[1] - a[1]) * (q[0] - a[0])
    t = fp / (fp - fq)
    return (p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1]))


def _convex_clip(subject: XPoly, clip: XPoly):
    """Sutherland–Hodgman in exact arithmetic (clip polygon convex)."""
    out = list(subject.v)
    for a, b in clip.edges:
        if a == b:
            continue
        cur, out = out, []
        if not cur:
            break
        prev = cur[-1]
        for p in cur:
            side_p = _orient(a, b, p)
            side_prev = _orient(a, b, prev)
            if side_p >= 0:
                if side_prev < 0:
                    out.append(_line_hit(prev, p, a, b))
                out.append(p)
            elif side_prev >= 0:
                out.append(_line_hit(prev, p, a, b))
            prev = p
    return out


def _clip_area2(pts) -> Fr:
    if len(pts) < 3:
        return Fr(0)
    n = len(pts)
    return sum(
        pts[i][0] * pts[(i + 1) % n][1] - pts[(i + 1) % n][0] * pts[i][1]
        for i in range(n)
    )


# -------------------------------------------------------------- 9IM assembly

E = -1  # empty
_LINE = (XLine, XMultiLine)
_POLY = (XPoly, XSimplePoly, XMultiPoly, XHoledPoly, XTouchMultiPoly)


def _im_points_any(A: XPoints, B) -> list:
    """Rows for a point-set A against any B with a locate()."""
    locs = {"I": False, "B": False, "E": False}
    for p in A.pts:
        locs[B.locate(p)] = True
    II = 0 if locs["I"] else E
    IB = 0 if locs["B"] else E
    IE = 0 if locs["E"] else E
    return [II, IB, IE]


def im_matrix(A, B) -> list:
    """3x3 DE-9IM dims matrix [I,B,E]x[I,B,E] for oracle shapes A, B."""
    if isinstance(A, XGC) or isinstance(B, XGC):
        return _im_union(A, B)
    if isinstance(A, XPoints) and isinstance(B, XPoints):
        sa, sb = set(A.pts), set(B.pts)
        II = 0 if sa & sb else E
        IE = 0 if sa - sb else E
        EI = 0 if sb - sa else E
        return [[II, E, IE], [E, E, E], [EI, E, 2]]

    if isinstance(A, XPoints):
        m = im_matrix(B, A)
        return [[m[j][i] for j in range(3)] for i in range(3)]

    if isinstance(B, XPoints):
        II, BI, EI = _im_points_any(B, A)  # B's points vs A's I/B/E (col 0)
        IB = BB = EB = E  # point sets have empty boundary
        IE = A.dim  # a line/area minus finitely many points keeps its dim
        if isinstance(A, _POLY):
            BE = 1  # a 1-dim ring minus finitely many points is still 1-dim
        elif A.boundary_pts:
            bset = set(B.pts)
            BE = 0 if any(p not in bset for p in A.boundary_pts) else E
        else:  # closed line: empty boundary
            BE = E
        return [[II, IB, IE], [BI, BB, BE], [EI, EB, 2]]

    if isinstance(A, _LINE) and isinstance(B, _LINE):
        return _im_line_line(A, B)
    if isinstance(A, _LINE) and isinstance(B, _POLY):
        m = _im_poly_line(B, A)
        return [[m[j][i] for j in range(3)] for i in range(3)]
    if isinstance(A, _POLY) and isinstance(B, _LINE):
        return _im_poly_line(A, B)
    if isinstance(A, _POLY) and isinstance(B, _POLY):
        return _im_poly_poly(A, B)
    raise TypeError((type(A), type(B)))


def _line_cover(A_segs, B):
    """Classify every open sub-segment of A_segs against B; return the set
    of B-locations ('I'/'B'/'E') some positive-length sub-segment of A
    falls in. Splitting at every intersection feature makes each open
    sub-segment homogeneous, so one exact midpoint decides it."""
    out = set()
    bsegs = B.segs if isinstance(B, _LINE) else B.edges
    for seg in A_segs:
        for mid in _sub_midpoints(seg, bsegs):
            out.add(B.locate(mid))
    return out


def _im_line_line(A: XLine, B: XLine) -> list:
    # 1-dim features: sub-segments of A classified against B's point set
    a_cov = _line_cover(A.segs, B)
    b_cov = _line_cover(B.segs, A)
    # "on B" for a sub-segment means collinear overlap: those sub-midpoints
    # locate to I or B of B. Positive-length overlap minus finitely many
    # boundary points is still 1-dim interior-interior.
    II = 1 if ("I" in a_cov or "B" in a_cov) else E
    # 0-dim candidates: isolated intersection points
    pts0 = set()
    for sa in A.segs:
        for sb in B.segs:
            hit = _seg_inter(*sa, *sb)
            if hit[0] == "pt":
                pts0.add(hit[1])
            elif hit[0] == "seg":
                pts0.add(hit[1])
                pts0.add(hit[2])
    if II != 1:
        II = (
            0
            if any(A.locate(p) == "I" and B.locate(p) == "I" for p in pts0)
            else E
        )
    IB = 0 if any(B.locate(p) == "B" and A.locate(p) == "I" for p in pts0 | B.boundary_pts) else E
    BI = 0 if any(A.locate(p) == "B" and B.locate(p) == "I" for p in pts0 | A.boundary_pts) else E
    BB = 0 if any(A.locate(p) == "B" and B.locate(p) == "B" for p in A.boundary_pts) else E
    IE = 1 if "E" in a_cov else E
    EI = 1 if "E" in b_cov else E
    BE = 0 if any(B.locate(p) == "E" for p in A.boundary_pts) else E
    EB = 0 if any(A.locate(p) == "E" for p in B.boundary_pts) else E
    return [[II, IB, IE], [BI, BB, BE], [EI, EB, 2]]


def _im_poly_line(A: XPoly, B: XLine) -> list:
    """A polygon (rows), B line (cols)."""
    b_cov = _line_cover(B.segs, A)  # line subs vs poly
    # intersection points of B's segments with A's edges + B's endpoints
    pts0 = set(B.boundary_pts)
    for sb in B.segs:
        for ea in A.edges:
            hit = _seg_inter(*sb, *ea)
            if hit[0] == "pt":
                pts0.add(hit[1])
            elif hit[0] == "seg":
                pts0.add(hit[1])
                pts0.add(hit[2])
    # rows = A interior/boundary/exterior; cols = B interior/boundary/ext
    II = 1 if "I" in b_cov else E  # convex: line ∩ open region is interval
    IB = 0 if any(A.locate(p) == "I" and B.locate(p) == "B" for p in pts0) else E
    # A-interior ∩ B-exterior: open region minus a line is always 2-dim
    IE = 2
    BI = 1 if "B" in b_cov else E
    if BI != 1:
        BI = (
            0
            if any(A.locate(p) == "B" and B.locate(p) == "I" for p in pts0)
            else E
        )
    BB = 0 if any(A.locate(p) == "B" and B.locate(p) == "B" for p in pts0) else E
    # A-boundary ∩ B-exterior: split A's ring edges at B and classify
    ring_cov = _line_cover(A.edges, B)
    BE = 1 if "E" in ring_cov else E
    EI = 1 if "E" in b_cov else E
    EB = 0 if any(A.locate(p) == "E" for p in B.boundary_pts) else E
    return [[II, IB, IE], [BI, BB, BE], [EI, EB, 2]]


def _im_poly_poly(A, B) -> list:
    # area(A ∩ B) by signed convex-part pairs: multi parts have disjoint
    # closures and holes are subsets of their shells, so inclusion-exclusion
    # over (part, sign) pairs is exact
    k_area2 = sum(
        sa * sb * _clip_area2(_convex_clip(pa, pb))
        for pa, sa in A.signed_parts
        for pb, sb in B.signed_parts
    )
    II = 2 if k_area2 > 0 else E
    a_ring_cov = _line_cover(A.edges, B)  # A ring vs B
    b_ring_cov = _line_cover(B.edges, A)  # B ring vs A
    # 0-dim boundary-boundary candidates
    pts0 = set()
    for ea in A.edges:
        for eb in B.edges:
            hit = _seg_inter(*ea, *eb)
            if hit[0] == "pt":
                pts0.add(hit[1])
            elif hit[0] == "seg":
                pts0.add(hit[1])
                pts0.add(hit[2])
    # IB = A-interior ∩ B-boundary: a sub-seg of B's ring located 'I' of A
    # (isolated 0-dim is impossible: a B vertex strictly inside the open set
    # A-int drags its adjacent sub-edges — split at every A-edge crossing —
    # strictly inside too)
    IB = 1 if "I" in b_ring_cov else E
    IE = 2 if k_area2 < A._area2() else E
    BI = 1 if "I" in a_ring_cov else E  # A-ring sub-seg strictly inside B
    BB = 1 if "B" in a_ring_cov else (0 if any(
        A.locate(p) == "B" and B.locate(p) == "B" for p in pts0
    ) else E)
    BE = 1 if "E" in a_ring_cov else E
    EI = 2 if k_area2 < B._area2() else E
    EB = 1 if "E" in b_ring_cov else E
    return [[II, IB, IE], [BI, BB, BE], [EI, EB, 2]]


# ------------------------------------------------------------ SFS predicates


def _nonempty(v) -> bool:
    return v != E


def predicates(A, B) -> dict:
    """The 8 join predicates from the exact matrix (standard SFS patterns,
    OGC 06-103r4 §6.1.15.3)."""
    return _predicates_from(im_matrix(A, B), im_matrix(B, A), A.dim, B.dim)


def predicates_union(A, B) -> dict:
    """Same predicates through the generic _im_union assembly regardless of
    operand type — cross-validation harness for the union path (it must
    agree with the specialized assemblies on every non-GC pair)."""
    return _predicates_from(_im_union(A, B), _im_union(B, A), A.dim, B.dim)


def _predicates_from(m, within_m, da, db) -> dict:
    (II, IB, IE), (BI, BB, BE), (EI, EB, _) = m
    inter = _nonempty(II) or _nonempty(IB) or _nonempty(BI) or _nonempty(BB)
    contains = _nonempty(II) and not _nonempty(EI) and not _nonempty(EB)
    within = (
        _nonempty(within_m[0][0])
        and not _nonempty(within_m[2][0])
        and not _nonempty(within_m[2][1])
    )
    touches = (not _nonempty(II)) and (
        _nonempty(IB) or _nonempty(BI) or _nonempty(BB)
    )
    if da < db:
        crosses = _nonempty(II) and _nonempty(IE)
    elif da > db:
        crosses = _nonempty(II) and _nonempty(EI)
    elif da == 1:
        crosses = II == 0
    else:
        crosses = False
    if da != db:
        overlaps = False
    elif da == 1:
        overlaps = II == 1 and _nonempty(IE) and _nonempty(EI)
    else:
        overlaps = _nonempty(II) and _nonempty(IE) and _nonempty(EI)
    covers = inter and not _nonempty(EI) and not _nonempty(EB)
    return {
        "intersects": inter,
        "disjoint": not inter,
        "contains": contains,
        "within": within,
        "covers": covers,
        "touches": touches,
        "crosses": crosses,
        "overlaps": overlaps,
        "equals": contains and within,
    }

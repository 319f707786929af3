"""Vectorized mixed-dimension join refine (round-5 item #2).

lineal_predicate_batch decides LineString x Polygon, Line x Line and
Polygon x LineString join predicates with one chunked segment-parameter
broadcast per (group, partner) plus vectorized locate — replacing the last
per-pair-Python refine tail in spatial joins (roads x parcels shapes).
Parity is pinned against the exact per-pair DE-9IM kernel at three levels:
golden adversarial cases, random sweeps, and full join row-SET parity."""

import numpy as np
import pandas as pd
import pytest

from geomesa_spark.geom import algorithms as alg
from geomesa_spark.geom.vectorized import lineal_predicate_batch, locate_batch
from geomesa_spark.geom.wkt import from_wkt
from geomesa_spark.operators.spatial_join import spatial_join
from geomesa_spark.sources.docs import DOCS_SCHEMA, index_docs

HOLED = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))"

PREDICATES = [
    "intersects", "within", "crosses", "touches", "contains", "covers", "overlaps",
]


def _star(rng, cx, cy, radii, rot=0.0):
    n = len(radii)
    ang = rot + np.linspace(0, 2 * np.pi, n, endpoint=False)
    pts = [(cx + r * np.cos(a), cy + r * np.sin(a)) for r, a in zip(radii, ang)]
    pts.append(pts[0])
    return "POLYGON ((" + ", ".join(f"{x:.4f} {y:.4f}" for x, y in pts) + "))"


def _rand_line(rng, cx, cy, npts, scale):
    pts = np.cumsum(rng.uniform(-scale, scale, size=(npts, 2)), axis=0) + [cx, cy]
    return "LINESTRING (" + ", ".join(f"{x:.4f} {y:.4f}" for x, y in pts) + ")"


GOLDEN_LINES = [
    "LINESTRING (1 1, 2 2)",                 # inside the rim -> within
    "LINESTRING (4 4, 5 5)",                 # inside the hole -> disjoint
    "LINESTRING (1 1, 5 5)",                 # rim into hole -> crosses
    "LINESTRING (-1 5, 11 5)",               # straight through -> crosses
    "LINESTRING (0 0, 10 0)",                # along the bottom edge -> touches
    "LINESTRING (-5 -5, 0 0)",               # endpoint at a corner -> touches
    "LINESTRING (3 3, 7 3)",                 # along a hole edge -> touches
    "LINESTRING (1 1, 9 1, 9 9, 1 9, 1 1)",  # closed ring in the rim -> within
    "LINESTRING (-1 -1, 11 -1)",             # disjoint
    "LINESTRING (-1 0, 11 0)",               # collinear with the bottom edge, longer
    "MULTILINESTRING ((1 1, 2 1), (20 20, 21 21))",  # one part in, one out
]


@pytest.mark.parametrize("predicate", PREDICATES)
def test_line_vs_polygon_golden(predicate):
    P = from_wkt(HOLED)
    lines = [from_wkt(w) for w in GOLDEN_LINES]
    got = lineal_predicate_batch(lines, P, predicate, lineal_side="left")
    want = np.array([getattr(alg, predicate)(l, P) for l in lines])
    assert (got == want).all(), np.nonzero(got != want)
    # reversed direction: pred(P, line) batched over the lineal (right) side
    got_r = lineal_predicate_batch(lines, P, predicate, lineal_side="right")
    want_r = np.array([getattr(alg, predicate)(P, l) for l in lines])
    assert (got_r == want_r).all(), np.nonzero(got_r != want_r)


GOLDEN_LL = [
    ("LINESTRING (0 0, 2 2)", "LINESTRING (0 2, 2 0)"),       # X crossing
    ("LINESTRING (0 0, 2 0)", "LINESTRING (1 0, 3 0)"),       # collinear overlap
    ("LINESTRING (0 0, 2 0)", "LINESTRING (2 0, 4 0)"),       # endpoint touch
    ("LINESTRING (0 0, 2 0)", "LINESTRING (1 0, 1 2)"),       # T touch
    ("LINESTRING (0 0, 2 0)", "LINESTRING (0 0, 2 0)"),       # equal
    ("LINESTRING (0 0, 4 0)", "LINESTRING (1 0, 3 0)"),       # contains
    ("LINESTRING (1 0, 3 0)", "LINESTRING (0 0, 4 0)"),       # within
    ("LINESTRING (0 0, 1 1)", "LINESTRING (5 5, 6 6)"),       # disjoint
    ("LINESTRING (0 0, 2 2, 4 0)", "LINESTRING (0 4, 2 2, 4 4)"),  # vertex-vertex
    ("LINESTRING (0 0, 4 4)", "LINESTRING (1 1, 3 3, 3 0)"),  # partial overlap + bend
    ("LINESTRING (0 0, 1 0, 1 1, 0 1, 0 0)", "LINESTRING (0.5 -1, 0.5 2)"),  # ring crossed
    ("MULTILINESTRING ((0 0, 1 0), (3 0, 4 0))", "LINESTRING (0.5 0, 3.5 0)"),
]


@pytest.mark.parametrize("predicate", PREDICATES)
def test_line_vs_line_golden(predicate):
    for lw, rw in GOLDEN_LL:
        lg, rg = from_wkt(lw), from_wkt(rw)
        got = bool(lineal_predicate_batch([lg], rg, predicate, "left")[0])
        want = getattr(alg, predicate)(lg, rg)
        assert got is want, (predicate, lw, rw, got, want)


def test_random_parity_all_combos():
    """Random polylines vs concave stars and lattice lines: batch verdicts
    == per-pair kernel for every join predicate, both lineal sides."""
    rng = np.random.default_rng(7)
    polys = [
        from_wkt(_star(rng, 0, 0, rng.uniform(2, 5, size=9), 0.3)),
        from_wkt(HOLED),
        from_wkt(_star(rng, 1, 1, rng.uniform(1, 3, size=7), 1.1)),
    ]
    lines = [
        from_wkt(_rand_line(rng, *rng.uniform(-4, 8, size=2),
                            rng.integers(2, 8), rng.uniform(0.3, 3)))
        for _ in range(100)
    ]
    # lattice lines: integer coords force collinear overlaps / vertex touches
    lat = []
    for _ in range(60):
        pts = rng.integers(0, 6, size=(int(rng.integers(2, 6)), 2))
        g = from_wkt(
            "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in pts) + ")"
        )
        if any(len(a) >= 2 for a in alg._lines_of(g)):
            lat.append(g)
    n_hits = 0
    for P in polys:
        for p in PREDICATES:
            got = lineal_predicate_batch(lines, P, p, "left")
            want = np.array([getattr(alg, p)(l, P) for l in lines])
            assert (got == want).all(), (p, np.nonzero(got != want))
            got_r = lineal_predicate_batch(lines, P, p, "right")
            want_r = np.array([getattr(alg, p)(P, l) for l in lines])
            assert (got_r == want_r).all(), (p, np.nonzero(got_r != want_r))
            n_hits += int(want.sum()) + int(want_r.sum())
    for R in lat[:8]:
        for p in PREDICATES:
            got = lineal_predicate_batch(lat, R, p, "left")
            want = np.array([getattr(alg, p)(l, R) for l in lat])
            assert (got == want).all(), (p, np.nonzero(got != want))
            n_hits += int(want.sum())
    assert n_hits > 100, "fixtures must be non-vacuous"


def _geo_doc(doc_id, wkt):
    return {
        "doc_id": doc_id,
        "spans": [
            {"kind": "text", "text": "body", "media_ref": "", "offset": 0},
            {"kind": "geo", "text": wkt, "media_ref": "", "offset": 1},
            {"kind": "time", "text": "2016-01-02T00:00:00.000Z", "media_ref": "", "offset": 2},
        ],
    }


@pytest.mark.parametrize("predicate", ["intersects", "crosses", "touches", "within"])
def test_lines_vs_polygons_join_row_parity(spark, predicate):
    """Roads-style lines joined to concave parcels on every 1-D x 2-D
    predicate: row-SET parity vs the brute-force kernel through the batched
    refine (the round-4 VERDICT #2 done criterion)."""
    rng = np.random.default_rng(5)
    left_rows, lgeos = [], {}
    for i in range(100):
        cx, cy = rng.uniform(-2.5, 2.5, size=2)
        w = _rand_line(rng, cx, cy, int(rng.integers(2, 7)), rng.uniform(0.1, 0.8))
        left_rows.append(_geo_doc(f"L{i:03d}", w))
        lgeos[f"L{i:03d}"] = from_wkt(w)
    # a few axis-aligned lines that run exactly along parcel walls
    for k, w in enumerate([
        "LINESTRING (0 0, 1 0)", "LINESTRING (0 0, 0 1)", "LINESTRING (-1 -1, 1 1)",
    ]):
        left_rows.append(_geo_doc(f"A{k}", w))
        lgeos[f"A{k}"] = from_wkt(w)
    right_rows, rgeos = [], {}
    for i in range(10):
        cx, cy = rng.uniform(-1.5, 1.5, size=2)
        w = _star(rng, cx, cy, rng.uniform(0.6, 2.0, size=9), rot=rng.uniform(0, 3))
        right_rows.append(_geo_doc(f"R{i:02d}", w))
        rgeos[f"R{i:02d}"] = from_wkt(w)
    right_rows.append(_geo_doc("RSQ", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"))
    rgeos["RSQ"] = from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    left = index_docs(spark.createDataFrame(pd.DataFrame(left_rows), schema=DOCS_SCHEMA))
    right = index_docs(spark.createDataFrame(pd.DataFrame(right_rows), schema=DOCS_SCHEMA))
    fn = getattr(alg, predicate)
    got = {
        (r.doc_id, r.doc_id_r)
        for r in spatial_join(left, right, predicate=predicate)
        .select("doc_id", "doc_id_r")
        .collect()
    }
    want = {
        (li, ri)
        for li, lg in lgeos.items()
        for ri, rg in rgeos.items()
        if fn(lg, rg)
    }
    if predicate == "intersects":
        assert len(want) > 20, "intersects fixture must be non-trivial"
    assert got == want


@pytest.mark.parametrize("predicate", ["contains", "covers", "crosses", "intersects"])
def test_polygons_vs_lines_join_row_parity(spark, predicate):
    """Parcels-contain-roads direction: areal left x lineal right, batched
    over the lineal side grouped by the left polygon."""
    rng = np.random.default_rng(9)
    left_rows, lgeos = [], {}
    for i in range(12):
        cx, cy = rng.uniform(-1.5, 1.5, size=2)
        w = _star(rng, cx, cy, rng.uniform(0.8, 2.2, size=9), rot=rng.uniform(0, 3))
        left_rows.append(_geo_doc(f"P{i:02d}", w))
        lgeos[f"P{i:02d}"] = from_wkt(w)
    right_rows, rgeos = [], {}
    for i in range(90):
        cx, cy = rng.uniform(-2.0, 2.0, size=2)
        w = _rand_line(rng, cx, cy, int(rng.integers(2, 6)), rng.uniform(0.05, 0.6))
        right_rows.append(_geo_doc(f"T{i:03d}", w))
        rgeos[f"T{i:03d}"] = from_wkt(w)
    left = index_docs(spark.createDataFrame(pd.DataFrame(left_rows), schema=DOCS_SCHEMA))
    right = index_docs(spark.createDataFrame(pd.DataFrame(right_rows), schema=DOCS_SCHEMA))
    fn = getattr(alg, predicate)
    got = {
        (r.doc_id, r.doc_id_r)
        for r in spatial_join(left, right, predicate=predicate)
        .select("doc_id", "doc_id_r")
        .collect()
    }
    want = {
        (li, ri)
        for li, lg in lgeos.items()
        for ri, rg in rgeos.items()
        if fn(lg, rg)
    }
    if predicate in ("contains", "intersects"):
        assert len(want) > 5, f"{predicate} fixture must be non-trivial"
    assert got == want


def test_lines_vs_lines_join_row_parity(spark):
    """Line x line intersects join through the ll batch path (lattice lines
    force collinear overlaps and vertex touches)."""
    rng = np.random.default_rng(3)

    def lat(npts):
        pts = rng.integers(0, 5, size=(npts, 2)) * 0.7 - 1.2
        return "LINESTRING (" + ", ".join(f"{x:.1f} {y:.1f}" for x, y in pts) + ")"

    left_rows, lgeos = [], {}
    i = 0
    while len(left_rows) < 60:
        w = lat(int(rng.integers(2, 5)))
        g = from_wkt(w)
        if not any(len(a) >= 2 for a in alg._lines_of(g)):
            continue
        left_rows.append(_geo_doc(f"L{i:03d}", w))
        lgeos[f"L{i:03d}"] = g
        i += 1
    right_rows, rgeos = [], {}
    i = 0
    while len(right_rows) < 12:
        w = lat(int(rng.integers(2, 4)))
        g = from_wkt(w)
        if not any(len(a) >= 2 for a in alg._lines_of(g)):
            continue
        right_rows.append(_geo_doc(f"R{i:02d}", w))
        rgeos[f"R{i:02d}"] = g
        i += 1
    left = index_docs(spark.createDataFrame(pd.DataFrame(left_rows), schema=DOCS_SCHEMA))
    right = index_docs(spark.createDataFrame(pd.DataFrame(right_rows), schema=DOCS_SCHEMA))
    for predicate in ("intersects", "crosses", "touches"):
        fn = getattr(alg, predicate)
        got = {
            (r.doc_id, r.doc_id_r)
            for r in spatial_join(left, right, predicate=predicate)
            .select("doc_id", "doc_id_r")
            .collect()
        }
        want = {
            (li, ri)
            for li, lg in lgeos.items()
            for ri, rg in rgeos.items()
            if fn(lg, rg)
        }
        if predicate == "intersects":
            assert len(want) > 20
        assert got == want


def test_point_locate_fast_paths():
    """locate_batch mirrors algorithms.locate exactly — the one vectorized
    point-location kernel behind the join's point fast path, the planner's
    point refine, density fills and geofences (areal, lineal, point and
    collection targets)."""
    rng = np.random.default_rng(13)
    targets = [
        from_wkt(HOLED),
        from_wkt("LINESTRING (0 0, 4 0, 4 4)"),
        from_wkt("MULTILINESTRING ((0 0, 2 0), (5 5, 6 6))"),
        # overlapping parts (invalid OGC): union semantics, interior wins
        from_wkt("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((2 2, 6 2, 6 6, 2 6, 2 2)))"),
        # doubled corner: a triangle whose vertices all sit on bbox corners
        from_wkt("POLYGON ((0 0, 1 0, 1 1, 1 1, 0 0))"),
        from_wkt("MULTIPOINT ((0 0), (5 5))"),
        from_wkt(
            "GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), "
            "LINESTRING (2 0, 4 0), POINT (5 5))"
        ),
    ]
    rx = np.concatenate([rng.uniform(-2, 12, 200), np.array([0.0, 4.0, 2.0, 5.0, 3.0])])
    ry = np.concatenate([rng.uniform(-2, 12, 200), np.array([0.0, 0.0, 0.0, 5.0, 3.0])])
    for g in targets:
        # vertex and edge-midpoint probes sit exactly on the boundary
        segs = alg._line_segments(g)
        px = np.concatenate([rx, segs[:, 0], (segs[:, 0] + segs[:, 2]) / 2])
        py = np.concatenate([ry, segs[:, 1], (segs[:, 1] + segs[:, 3]) / 2])
        got = locate_batch(px, py, g)
        want = np.array([alg.locate(float(x), float(y), g) for x, y in zip(px, py)])
        assert (got == want).all(), np.nonzero(got != want)


def test_mixed_batch_50k_scale_shape():
    """50k random road segments vs one concave parcel through the batch
    decider: one chunked parameter broadcast + vectorized locate; sampled
    parity vs the kernel. Per-pair relate() at this size would be minutes."""
    import time as _t

    rng = np.random.default_rng(31)
    P = from_wkt(_star(rng, 0, 0, rng.uniform(2, 5, size=9), 0.4))
    lines = [
        from_wkt(_rand_line(rng, *rng.uniform(-6, 6, size=2),
                            int(rng.integers(2, 5)), rng.uniform(0.1, 1.0)))
        for _ in range(50_000)
    ]
    t0 = _t.time()
    got_i = lineal_predicate_batch(lines, P, "intersects", "left")
    got_w = lineal_predicate_batch(lines, P, "within", "left")
    elapsed = _t.time() - t0
    assert got_i.sum() > 1000 and got_w.sum() > 100, "fixture must be non-vacuous"
    idx = rng.choice(50_000, size=250, replace=False)
    for i in idx:
        assert bool(got_i[i]) == alg.intersects(lines[i], P), i
        assert bool(got_w[i]) == alg.within(lines[i], P), i
    # loose wall guard only to catch an accidental per-pair regression
    assert elapsed < 120, elapsed


def test_refine_fn_lattice_sweep_incl_degenerate_lines():
    """The join refine function (not just the kernels) agrees with the
    scalar predicates over fp-adversarial lattice fixtures INCLUDING
    degenerate zero-length 'lines' of identical points — those must route
    to the scalar path (live-segment guard), where the batch kernel would
    classify them as empty."""
    from geomesa_spark.geom.wkb import to_wkb
    from geomesa_spark.operators.spatial_join import _pairwise_predicate_fn

    rng = np.random.default_rng(1234)
    bad = []
    for step in (0.1, 0.7):
        lines = []
        while len(lines) < 25:
            pts = rng.integers(0, 5, size=(int(rng.integers(2, 6)), 2)) * step - 1.0
            g = from_wkt(
                "LINESTRING (" + ", ".join(f"{x:.10g} {y:.10g}" for x, y in pts) + ")"
            )
            if any(len(a) >= 2 for a in alg._lines_of(g)):
                lines.append(g)
        # force degenerate members (identical points)
        lines.append(from_wkt(f"LINESTRING ({step:.10g} {step:.10g}, {step:.10g} {step:.10g})"))
        polys = []
        while len(polys) < 3:
            x0, y0 = rng.integers(0, 3, 2) * step - 1.0
            w, h = rng.integers(1, 4, 2) * step
            polys.append(
                from_wkt(
                    f"POLYGON (({x0:.10g} {y0:.10g}, {x0 + w:.10g} {y0:.10g}, "
                    f"{x0 + w:.10g} {y0 + h:.10g}, {x0:.10g} {y0 + h:.10g}, "
                    f"{x0:.10g} {y0:.10g}))"
                )
            )
        rights = polys + lines[:4]
        for p in PREDICATES:
            fn = _pairwise_predicate_fn(p)
            ref = getattr(alg, p)
            lw, rw, pairs = [], [], []
            for lg in lines:
                for R in rights:
                    lw.append(bytes(to_wkb(lg)))
                    rw.append(bytes(to_wkb(R)))
                    pairs.append((lg, R))
            got = fn(pd.Series(lw, dtype=object), pd.Series(rw, dtype=object))
            got_rev = fn(pd.Series(rw, dtype=object), pd.Series(lw, dtype=object))
            for (lg, R), g1, g2 in zip(pairs, got, got_rev):
                if bool(g1) != ref(lg, R) or bool(g2) != ref(R, lg):
                    bad.append((p, step))
    assert not bad, bad[:5]


def test_refine_fn_degenerate_polygon_sweep():
    """Zero-area 'polygons' (a point or segment dressed as a POLYGON) have
    empty interiors — the areal batch kernels and the scalar relate
    disagree on them, so they must route to the scalar path (positive-area
    guard). Lattice rectangles with width/height 0 and collinear triangles
    sweep all predicates through the refine function."""
    from geomesa_spark.geom.wkb import to_wkb
    from geomesa_spark.operators.spatial_join import _pairwise_predicate_fn

    rng = np.random.default_rng(77)
    bad = []
    for step in (0.1, 1.0):
        polys = []
        for _ in range(20):
            x0, y0 = rng.integers(0, 4, 2) * step - 1.0
            w, h = rng.integers(0, 3, 2) * step  # 0 width/height allowed
            polys.append(
                f"POLYGON (({x0:.10g} {y0:.10g}, {x0 + w:.10g} {y0:.10g}, "
                f"{x0 + w:.10g} {y0 + h:.10g}, {x0:.10g} {y0 + h:.10g}, "
                f"{x0:.10g} {y0:.10g}))"
            )
        for _ in range(6):
            pts = rng.integers(0, 4, size=(3, 2)) * step - 1.0
            ring = ", ".join(f"{x:.10g} {y:.10g}" for x, y in pts)
            first = f"{pts[0][0]:.10g} {pts[0][1]:.10g}"
            polys.append(f"POLYGON (({ring}, {first}))")
        gs = [from_wkt(w) for w in polys]
        for p in PREDICATES:
            fn = _pairwise_predicate_fn(p)
            ref = getattr(alg, p)
            lw, rw, pairs = [], [], []
            for a in gs:
                for b in gs:
                    lw.append(bytes(to_wkb(a)))
                    rw.append(bytes(to_wkb(b)))
                    pairs.append((a, b))
            got = fn(pd.Series(lw, dtype=object), pd.Series(rw, dtype=object))
            for (a, b), g1 in zip(pairs, got):
                if bool(g1) != ref(a, b):
                    bad.append((p, step))
    assert not bad, bad[:5]


def test_refine_fn_multipoint_sweep():
    """MULTIPOINT vs areal/lineal partners through the join refine function
    (scalar relate) — parity vs the scalar kernel on lattice fixtures, both
    directions, all predicates."""
    from geomesa_spark.geom.wkb import to_wkb
    from geomesa_spark.operators.spatial_join import _pairwise_predicate_fn

    rng = np.random.default_rng(55)
    bad = []
    for step in (0.5, 0.7):
        mps = []
        for _ in range(25):
            k = int(rng.integers(1, 6))
            pts = rng.integers(0, 5, size=(k, 2)) * step - 1.0
            mps.append(
                from_wkt(
                    "MULTIPOINT ("
                    + ", ".join(f"{x:.10g} {y:.10g}" for x, y in pts)
                    + ")"
                )
            )
        partners = []
        for _ in range(4):
            x0, y0 = rng.integers(0, 3, 2) * step - 1.0
            w, h = rng.integers(1, 4, 2) * step
            partners.append(
                from_wkt(
                    f"POLYGON (({x0:.10g} {y0:.10g}, {x0 + w:.10g} {y0:.10g}, "
                    f"{x0 + w:.10g} {y0 + h:.10g}, {x0:.10g} {y0 + h:.10g}, "
                    f"{x0:.10g} {y0:.10g}))"
                )
            )
        for _ in range(3):
            pts = rng.integers(0, 5, size=(3, 2)) * step - 1.0
            partners.append(
                from_wkt(
                    "LINESTRING ("
                    + ", ".join(f"{x:.10g} {y:.10g}" for x, y in pts)
                    + ")"
                )
            )
        for p in PREDICATES:
            fn = _pairwise_predicate_fn(p)
            ref = getattr(alg, p)
            lw, rw, pairs = [], [], []
            for a in mps:
                for b in partners:
                    lw.append(bytes(to_wkb(a)))
                    rw.append(bytes(to_wkb(b)))
                    pairs.append((a, b))
            got = fn(pd.Series(lw, dtype=object), pd.Series(rw, dtype=object))
            got_rev = fn(pd.Series(rw, dtype=object), pd.Series(lw, dtype=object))
            for (a, b), g1, g2 in zip(pairs, got, got_rev):
                if bool(g1) != ref(a, b) or bool(g2) != ref(b, a):
                    bad.append((p, step))
    assert not bad, bad[:5]


def test_refine_fn_interlocking_multipolygon_parity():
    """A valid archipelago multipolygon whose part ENVELOPES overlap
    (interlocking L-shaped islands) through the join refine function vs
    partners that exercise the containment/overlap/touch family, both
    directions: intersects batches, the rest take the scalar relate."""
    interlocking = from_wkt(
        # L-shape occupying (0..3, 0..1)+(0..1, 0..3); island at (2 2, 3 3):
        # envelopes overlap, geometries disjoint
        "MULTIPOLYGON (((0 0, 3 0, 3 1, 1 1, 1 3, 0 3, 0 0)), "
        "((2 2, 3 2, 3 3, 2 3, 2 2)))"
    )
    from geomesa_spark.geom.wkb import to_wkb
    from geomesa_spark.operators.spatial_join import _pairwise_predicate_fn

    partners = [
        from_wkt("POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"),
        from_wkt("POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))"),  # equals island part
        from_wkt("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"),  # in the notch
        from_wkt("POLYGON ((0 0, 3 0, 3 1, 1 1, 1 3, 0 3, 0 0))"),  # equals L
    ]
    for p in ("intersects", "within", "contains", "covers", "overlaps", "touches"):
        fn = _pairwise_predicate_fn(p)
        ref = getattr(alg, p)
        lw = pd.Series([bytes(to_wkb(interlocking))] * len(partners), dtype=object)
        rw = pd.Series([bytes(to_wkb(b)) for b in partners], dtype=object)
        got = fn(lw, rw)
        got_rev = fn(rw, lw)
        for b, g1, g2 in zip(partners, got, got_rev):
            assert bool(g1) == ref(interlocking, b), (p, "fwd")
            assert bool(g2) == ref(b, interlocking), (p, "rev")

"""Geometry kernel tests: WKT/WKB roundtrip + the reference's DE-9IM truth
tables (ported from geomesa-spark-sql SparkSQLSpatialRelationshipsTest.scala:31-123
via FIXTURES.md §3)."""

import math

import numpy as np
import pytest

from geomesa_spark.geom import (
    algorithms as alg,
)
from geomesa_spark.geom import (
    box,
    from_wkb,
    from_wkt,
    point,
    to_wkb,
    to_wkt,
)
from geomesa_spark.geom import vectorized as vec

WKTS = [
    "POINT (5 5)",
    "POINT (-76.5 38.5)",
    "LINESTRING (0 10, 0 -10)",
    "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0))",
    "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))",
    "MULTIPOINT ((1 2), (3 4))",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
    "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((5 5, 5 6, 6 6, 6 5, 5 5)))",
    "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 2 2))",
    "POINT EMPTY",
    "POLYGON EMPTY",
]


@pytest.mark.parametrize("wkt", WKTS)
def test_wkt_roundtrip(wkt):
    assert to_wkt(from_wkt(wkt)) == wkt


@pytest.mark.parametrize("wkt", WKTS)
def test_wkb_roundtrip(wkt):
    g = from_wkt(wkt)
    assert to_wkt(from_wkb(to_wkb(g))) == wkt


def test_bulk_point_codec():
    xs = np.array([1.5, -76.5, 179.9])
    ys = np.array([2.5, 38.5, -89.0])
    wkbs = vec.encode_points(xs, ys)
    pts = vec.points_from_wkb(wkbs)
    assert np.allclose(pts[:, 0], xs) and np.allclose(pts[:, 1], ys)


# --- DE-9IM truth tables (FIXTURES.md §3 / SparkSQLSpatialRelationshipsTest) ---

BOX_REF = from_wkt("POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))")
POINT_REF = from_wkt("POINT(0 0)")
LINE_REF = from_wkt("LINESTRING(0 10, 0 -10)")

POINTS = {
    "int": "POINT(5 5)",
    "edge": "POINT(0 5)",
    "corner": "POINT(0 0)",
    "ext": "POINT(-5 0)",
}
LINES = {
    "touches": "LINESTRING(0 0, 1 0)",
    "crosses": "LINESTRING(-1 0, 1 0)",
    "disjoint": "LINESTRING(1 0, 2 0)",
}
BOXES = {
    "int": "POLYGON((1 1, 1 2, 2 2, 2 1, 1 1))",
    "intEdge": "POLYGON((0 1, 0 2, 1 2, 1 1, 0 1))",
    "overlap": "POLYGON((-1 1, -1 2, 1 2, 1 1, -1 1))",
    "extEdge": "POLYGON((-1 1, -1 2, 0 2, 0 1, -1 1))",
    "ext": "POLYGON((-2 1, -2 2, -1 2, -1 1, -2 1))",
    "corner": "POLYGON((-1 -1, -1 0, 0 0, 0 -1, -1 -1))",
}


def names_where(table, fn):
    return {k for k, w in table.items() if fn(from_wkt(w))}


def test_contains_points():
    assert names_where(POINTS, lambda g: alg.contains(BOX_REF, g)) == {"int"}


def test_contains_boxes():
    assert names_where(BOXES, lambda g: alg.contains(BOX_REF, g)) == {"int", "intEdge"}


def test_covers_points():
    assert names_where(POINTS, lambda g: alg.covers(BOX_REF, g)) == {
        "int",
        "edge",
        "corner",
    }


def test_intersects_points():
    assert names_where(POINTS, lambda g: alg.intersects(BOX_REF, g)) == {
        "int",
        "edge",
        "corner",
    }


def test_intersects_boxes():
    assert names_where(BOXES, lambda g: alg.intersects(BOX_REF, g)) == {
        "int",
        "intEdge",
        "overlap",
        "extEdge",
        "corner",
    }


def test_within_points():
    assert names_where(POINTS, lambda g: alg.within(g, BOX_REF)) == {"int"}


def test_within_boxes():
    assert names_where(BOXES, lambda g: alg.within(g, BOX_REF)) == {"int", "intEdge"}


def test_disjoint():
    assert names_where(POINTS, lambda g: alg.disjoint(BOX_REF, g)) == {"ext"}
    assert names_where(BOXES, lambda g: alg.disjoint(BOX_REF, g)) == {"ext"}


def test_touches():
    # lines touching the reference point / line
    assert alg.touches(from_wkt(LINES["touches"]), LINE_REF)
    assert not alg.touches(from_wkt(LINES["crosses"]), LINE_REF)
    assert not alg.touches(from_wkt(LINES["disjoint"]), LINE_REF)
    # boxes sharing only an edge/corner with boxRef touch it
    assert alg.touches(from_wkt(BOXES["extEdge"]), BOX_REF)
    assert alg.touches(from_wkt(BOXES["corner"]), BOX_REF)
    assert not alg.touches(from_wkt(BOXES["overlap"]), BOX_REF)
    assert not alg.touches(from_wkt(BOXES["int"]), BOX_REF)


def test_crosses():
    assert alg.crosses(from_wkt(LINES["crosses"]), LINE_REF)
    assert not alg.crosses(from_wkt(LINES["touches"]), LINE_REF)
    assert not alg.crosses(from_wkt(LINES["disjoint"]), LINE_REF)


def test_overlaps():
    assert alg.overlaps(from_wkt(BOXES["overlap"]), BOX_REF)
    assert not alg.overlaps(from_wkt(BOXES["int"]), BOX_REF)
    assert not alg.overlaps(from_wkt(BOXES["extEdge"]), BOX_REF)
    assert not alg.overlaps(from_wkt(BOXES["ext"]), BOX_REF)


def test_equals():
    assert alg.equals(BOX_REF, from_wkt("POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))"))
    assert alg.equals(
        from_wkt("LINESTRING(0 0, 2 2)"), from_wkt("LINESTRING(2 2, 0 0)")
    )
    assert not alg.equals(BOX_REF, from_wkt(BOXES["int"]))


def test_relate_matrix_point_in_poly():
    m = alg.relate(from_wkt("POINT(5 5)"), BOX_REF)
    assert m[0] == "0" and m[2] == "F"


def test_relate_hole_covered_by_sibling_part():
    # Union semantics: a hole in one part can be covered by a SIBLING part,
    # so "hole interior overlaps B" must NOT be taken as EI evidence unless
    # the overlap survives subtraction of the whole multipolygon (ADVICE r7:
    # the naive hole shortcut returned contains=False here).
    a = from_wkt(
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 3, 3 3, 3 1, 1 1)),"
        " ((1 1, 3 1, 3 3, 1 3, 1 1)))"
    )
    b = from_wkt("POLYGON ((1.5 1.5, 2.5 1.5, 2.5 2.5, 1.5 2.5, 1.5 1.5))")
    m = alg.relate(a, b)
    assert m == "212FF1FF2"
    assert alg.contains(a, b)

    # PARTIAL sibling cover: filler spans only the left half of the hole, so
    # B (astride the split) still pokes into true exterior -> EI must stay 2.
    a_half = from_wkt(
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 3, 3 3, 3 1, 1 1)),"
        " ((1 1, 2 1, 2 3, 1 3, 1 1)))"
    )
    m2 = alg.relate(a_half, b)
    assert m2[6] == "2"  # A-exterior (right half of hole) meets B-interior
    assert not alg.contains(a_half, b)

    # Single polygon with a hole fully shared-edge-covered by B: the r7
    # oracle-found case must keep detecting EI via the hole probe.
    holed = from_wkt(
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 3, 3 3, 3 1, 1 1))"
    )
    filler = from_wkt("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")
    assert alg.relate(holed, filler) == "FF2F112F2"


# ------------------------------------------------------------------ measures


def test_area_length_centroid():
    assert alg.area(BOX_REF) == 100.0
    hole = from_wkt(
        "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))"
    )
    assert alg.area(hole) == 96.0
    assert alg.length(from_wkt("LINESTRING(0 0, 3 4)")) == 5.0
    c = alg.centroid(BOX_REF)
    assert np.allclose(c.coords, [5.0, 5.0])


def test_distance():
    assert alg.distance(from_wkt("POINT(0 0)"), from_wkt("POINT(3 4)")) == 5.0
    assert alg.distance(from_wkt("POINT(5 5)"), BOX_REF) == 0.0
    assert alg.distance(from_wkt("POINT(-5 0)"), BOX_REF) == 5.0
    assert alg.distance(from_wkt("POINT(15 0)"), from_wkt("LINESTRING(10 -10, 10 10)")) == 5.0


def test_haversine_known():
    # quarter meridian ~ 10,007.5 km on the mean-radius sphere
    d = alg.haversine(0.0, 0.0, 0.0, 90.0)
    assert abs(d - math.pi / 2 * alg.EARTH_MEAN_RADIUS_M) < 1.0


def test_convex_hull():
    pts = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [2, 2], [1, 1]])
    h = alg.convex_hull(pts)
    assert alg.area(h) == 16.0


def test_buffer_point_equator():
    # FIXTURES §6b: st_bufferPoint(POINT(0 0), 10) first vertex
    g = alg.buffer_point_geodesic(0.0, 0.0, 10.0)
    first = g.coords[0][0]
    assert abs(first[0] - 8.99320367762e-5) < 1e-10
    assert abs(first[1]) < 1e-12
    assert len(g.coords[0]) == 101  # 100 points closed


def test_buffer_point_antimeridian():
    g = alg.buffer_point_geodesic(-180.0, 50.0, 100000.0)
    assert alg.intersects(g, from_wkt("POINT(-179.9 50)"))
    assert alg.intersects(g, from_wkt("POINT(179.9 50)"))


def test_antimeridian_safe_polygon():
    g = from_wkt("POLYGON((-190 50, -190 60, -170 60, -170 50, -190 50))")
    safe = alg.antimeridian_safe(g)
    assert safe.gtype in (6,)  # MultiPolygon
    assert abs(alg.area(safe) - alg.area(g)) < 1e-9
    b = safe.bounds()
    assert b[0] >= -180 and b[2] <= 180
    # both sides present
    assert alg.intersects(safe, from_wkt("POINT(-175 55)"))
    assert alg.intersects(safe, from_wkt("POINT(175 55)"))
    assert not alg.intersects(safe, from_wkt("POINT(0 55)"))


def test_antimeridian_safe_keeps_line_and_point_members():
    """An areal collection crossing the seam keeps its split line and point
    members next to the split polygons, not the polygons alone."""
    g = from_wkt(
        "GEOMETRYCOLLECTION (POLYGON ((170 0, 190 0, 190 10, 170 10, 170 0)), "
        "LINESTRING (175 20, 185 20), POINT (185 30))"
    )
    safe = alg.antimeridian_safe(g)
    assert to_wkt(safe) == (
        "GEOMETRYCOLLECTION (MULTIPOLYGON (((170 0, 180 0, 180 10, 170 10, 170 0)), "
        "((-180 0, -170 0, -170 10, -180 10, -180 0))), "
        "LINESTRING (175 20, 180 20), LINESTRING (-180 20, -175 20), POINT (-175 30))"
    )
    assert from_wkb(to_wkb(safe)).gtype == safe.gtype
    assert abs(alg.area(safe) - alg.area(g)) < 1e-9
    # a polygon that stays east of the seam with a line that crosses it
    g = from_wkt(
        "GEOMETRYCOLLECTION (POLYGON ((170 0, 179 0, 179 10, 170 10, 170 0)), "
        "LINESTRING (175 20, 185 20))"
    )
    assert to_wkt(alg.antimeridian_safe(g)) == (
        "GEOMETRYCOLLECTION (POLYGON ((170 0, 179 0, 179 10, 170 10, 170 0)), "
        "LINESTRING (175 20, 180 20), LINESTRING (-180 20, -175 20))"
    )
    # polygons only: the result stays polygonal
    poly = from_wkt("GEOMETRYCOLLECTION (POLYGON ((170 0, 190 0, 190 10, 170 10, 170 0)))")
    assert alg.antimeridian_safe(poly).gtype == 6  # MultiPolygon


def test_antimeridian_safe_keeps_points():
    g = from_wkt("MULTIPOINT ((175 20), (185 20))")
    assert to_wkt(alg.antimeridian_safe(g)) == (
        "GEOMETRYCOLLECTION (POINT (175 20), POINT (-175 20))"
    )


def test_intersection_boxes():
    g = alg.intersection(BOX_REF, box(5, 5, 15, 15))
    assert alg.area(g) == 25.0


def test_clip_line_by_polygon():
    l = from_wkt("LINESTRING(-5 5, 15 5)")
    inter = alg.intersection(l, BOX_REF)
    assert alg.length(inter) == 10.0
    diff = alg.difference(l, BOX_REF)
    assert alg.length(diff) == 10.0


# ------------------------------------------------------- vectorized fast path


def test_vectorized_points_in_polygon():
    xs = np.array([5.0, 0.0, 0.0, -5.0])
    ys = np.array([5.0, 5.0, 0.0, 0.0])
    loc = vec.locate_batch(xs, ys, BOX_REF)
    assert list(loc == alg.INTERIOR) == [True, False, False, False]
    assert list(loc != alg.EXTERIOR) == [True, True, True, False]


def test_vectorized_matches_scalar():
    rng = np.random.default_rng(42)
    xs = rng.uniform(-2, 12, 500)
    ys = rng.uniform(-2, 12, 500)
    mask = vec.locate_batch(xs, ys, BOX_REF) != alg.EXTERIOR
    for i in range(0, 500, 17):
        assert mask[i] == alg.intersects(point(xs[i], ys[i]), BOX_REF)


def test_holed_intersection_area():
    """Polygons WITH HOLES (GeometricUdfTest.scala intersection shape):
    tessellated intersection must be exactly area-correct."""
    holed = from_wkt(
        "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    )
    # convex clip side: [5,15]x[0,10] -> 50 - hole part [5,6]x[4,6]=2 -> 48
    g = alg.intersection(holed, box(5, 0, 15, 10))
    assert abs(alg.area(g) - 48.0) < 1e-9
    # both sides holed: frame x frame
    a = from_wkt("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 8 2, 8 8, 2 8, 2 2))")
    b = from_wkt(
        "POLYGON((5 5, 15 5, 15 15, 5 15, 5 5), (9 9, 11 9, 11 11, 9 11, 9 9))"
    )
    g2 = alg.intersection(a, b)
    # A-frame within [5,10]^2: 25 - [5,8]^2 = 16; minus B-hole part [9,10]^2 = 1
    assert abs(alg.area(g2) - 15.0) < 1e-9


def test_holed_difference_area():
    holed = from_wkt(
        "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    )
    # A(96) minus box(3..7)^2: overlap = 16 - hole 4 = 12 -> 84
    d = alg.difference(holed, box(3, 3, 7, 7))
    assert abs(alg.area(d) - 84.0) < 1e-9
    # hole-free A minus holed B: 100 - (36 - 4) = 68
    b = from_wkt("POLYGON((2 2, 8 2, 8 8, 2 8, 2 2), (4 4, 6 4, 6 6, 4 6, 4 4))")
    d2 = alg.difference(box(0, 0, 10, 10), b)
    assert abs(alg.area(d2) - 68.0) < 1e-9
    # difference of a holed polygon with itself is empty
    d3 = alg.difference(holed, holed)
    assert abs(alg.area(d3)) < 1e-9


def test_concave_intersection_area():
    """General (concave x concave) polygon intersection via ear-clipping
    triangulation + convex clips: area-exact."""
    L1 = from_wkt("POLYGON((0 0, 4 0, 4 1, 1 1, 1 4, 0 4, 0 0))")
    L2 = from_wkt("POLYGON((0 0, 1 0, 1 3, 3 3, 3 4, 0 4, 0 0))")
    inter = alg.intersection(L1, L2)
    assert abs(alg.area(inter) - 4.0) < 1e-9
    # sanity vs independent point sampling
    import numpy as np

    rng = np.random.default_rng(42)
    xs = rng.uniform(0, 4, 4000)
    ys = rng.uniform(0, 4, 4000)
    def inside(g):
        return vec.locate_batch(xs, ys, g) != alg.EXTERIOR

    inside_both = inside(L1) & inside(L2)
    inside_inter = inside(inter)
    assert (inside_both == inside_inter).mean() > 0.995


def test_triangulation_covers_polygon():
    from geomesa_spark.geom.algorithms import triangulate_ring
    import numpy as np

    ring = from_wkt("POLYGON((0 0, 6 0, 6 2, 2 2, 2 4, 6 4, 6 6, 0 6, 0 0))").coords[0]
    tris = triangulate_ring(np.asarray(ring))
    total = sum(abs(alg._ring_area(t)) for t in tris)
    assert abs(total - 28.0) < 1e-9  # 36 - 8 notch


def test_general_difference_area():
    L1 = from_wkt("POLYGON((0 0, 4 0, 4 1, 1 1, 1 4, 0 4, 0 0))")
    L2 = from_wkt("POLYGON((0 0, 1 0, 1 3, 3 3, 3 4, 0 4, 0 0))")
    d = alg.difference(L1, L2)
    assert abs(alg.area(d) - 3.0) < 1e-9
    b1 = from_wkt("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))")
    b2 = from_wkt("POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))")
    assert abs(alg.area(alg.difference(b1, b2)) - 75.0) < 1e-9
    # disjoint -> identity; covered -> empty
    assert alg.area(alg.difference(b1, from_wkt("POLYGON((20 20, 21 20, 21 21, 20 21, 20 20))"))) == 100.0
    assert alg.difference(from_wkt("POLYGON((1 1, 2 1, 2 2, 1 2, 1 1))"), b1).is_empty()

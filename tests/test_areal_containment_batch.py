"""Areal x areal containment / overlap / touch verdicts through the join
refine (`_pairwise_predicate_fn`): golden cases pin each expected verdict,
and random concave-star pairs plus join row-SET parity pin the refine
against the exact per-pair DE-9IM kernel. Solid-rectangle pairs answer
from bounds; other areal pairs take the scalar relate for every predicate
except intersects."""

import numpy as np
import pandas as pd
import pytest

from geomesa_spark.geom import algorithms as alg
from geomesa_spark.geom.wkb import to_wkb
from geomesa_spark.geom.wkt import from_wkt
from geomesa_spark.operators.spatial_join import _pairwise_predicate_fn, spatial_join
from geomesa_spark.sources.docs import DOCS_SCHEMA, index_docs


def _star(cx, cy, radii, rot=0.0):
    n = len(radii)
    ang = rot + np.linspace(0, 2 * np.pi, n, endpoint=False)
    pts = [(cx + r * np.cos(a), cy + r * np.sin(a)) for r, a in zip(radii, ang)]
    pts.append(pts[0])
    return "POLYGON ((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts) + "))"


def _refine(predicate, a, b) -> bool:
    """One (a, b) pair through the join refine function, on WKB."""
    got = _pairwise_predicate_fn(predicate)(
        pd.Series([bytes(to_wkb(a))], dtype=object),
        pd.Series([bytes(to_wkb(b))], dtype=object),
    )
    return bool(got[0])


def _refine_many(predicate, lefts, right) -> np.ndarray:
    """Every (left, right) pair through the join refine function at once."""
    return np.asarray(
        _pairwise_predicate_fn(predicate)(
            pd.Series([bytes(to_wkb(a)) for a in lefts], dtype=object),
            pd.Series([bytes(to_wkb(right))] * len(lefts), dtype=object),
        ),
        dtype=bool,
    )


HOLED = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))"
BIG = "POLYGON ((-5 -5, 15 -5, 15 15, -5 15, -5 -5))"
CONCAVE_L = "POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))"


@pytest.mark.parametrize(
    "a_wkt,b_wkt,expect_covers",
    [
        (BIG, HOLED, True),  # simple containment (B's hole ring still in A)
        (HOLED, "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))", True),  # in the rim
        (HOLED, "POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))", False),  # in A's hole
        (HOLED, "POLYGON ((2 2, 5 2, 5 5, 2 5, 2 2))", False),  # straddles rim
        (HOLED, HOLED, True),  # equal (shared boundary + shared hole)
        # B fills A's hole exactly: hole ring == B boundary, B pokes into
        # the hole's interior which is NOT part of A
        (HOLED, "POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))", False),
        (CONCAVE_L, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", True),  # corner fit
        (CONCAVE_L, "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))", False),  # pokes notch
        # shared-edge containment (B against A's inner wall)
        ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", True),
        # B escapes through A's boundary vertex (improper crossing)
        ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "POLYGON ((2 2, 6 6, 2 6, 2 2))", False),
        # disjoint / overlapping
        ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))", False),
        ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))", False),
        # multipolygon B fully inside A
        (BIG, "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((8 8, 9 8, 9 9, 8 9, 8 8)))", True),
        # multipolygon B with one part outside
        (HOLED, "MULTIPOLYGON (((1 1, 2 1, 2 2, 1 2, 1 1)), ((20 20, 21 20, 21 21, 20 21, 20 20)))", False),
    ],
)
def test_covers_within_golden_cases(a_wkt, b_wkt, expect_covers):
    A, B = from_wkt(a_wkt), from_wkt(b_wkt)
    # the join refine, through every containment entry point
    assert _refine("covers", A, B) is expect_covers
    assert _refine("within", B, A) is expect_covers
    assert _refine("contains", A, B) is expect_covers
    # kernel agreement (sanity on the golden truth)
    assert alg.covers(A, B) is expect_covers
    assert alg.within(B, A) is expect_covers
    assert alg.contains(A, B) is expect_covers


def test_random_star_parity_all_containment_predicates():
    """400 random concave-star pairs, nested scales so containment is
    non-vacuous: refine verdicts == per-pair kernel for covers AND within."""
    rng = np.random.default_rng(21)
    rights = [
        from_wkt(_star(0, 0, rng.uniform(3, 6, size=9), rot=rng.uniform(0, 3))),
        from_wkt(HOLED),
        from_wkt(CONCAVE_L),
        from_wkt(BIG),
    ]
    lefts = []
    for _ in range(100):
        cx, cy = rng.uniform(-3, 6, size=2)
        lefts.append(
            from_wkt(_star(cx, cy, rng.uniform(0.3, 3.0, size=7), rot=rng.uniform(0, 3)))
        )
    n_win = 0
    for B in rights:
        got_c = _refine_many("covers", lefts, B)
        want_c = np.array([alg.covers(A, B) for A in lefts])
        assert (got_c == want_c).all(), np.nonzero(got_c != want_c)
        got_w = _refine_many("within", lefts, B)
        want_w = np.array([alg.within(A, B) for A in lefts])
        assert (got_w == want_w).all(), np.nonzero(got_w != want_w)
        n_win += int(want_w.sum())
    assert n_win > 10, "within fixture must be non-vacuous"


def _poly_doc(doc_id, wkt):
    return {
        "doc_id": doc_id,
        "spans": [
            {"kind": "text", "text": "body", "media_ref": "", "offset": 0},
            {"kind": "geo", "text": wkt, "media_ref": "", "offset": 1},
            {"kind": "time", "text": "2016-01-02T00:00:00.000Z", "media_ref": "", "offset": 2},
        ],
    }


@pytest.mark.parametrize("predicate", ["contains", "within", "covers"])
def test_concave_containment_join_row_parity(spark, predicate):
    """Concave CONTAINS/WITHIN/COVERS concave join: row-SET parity vs the
    brute-force kernel through the batched refine (the VERDICT #3 done
    criterion)."""
    rng = np.random.default_rng(6)
    left_rows, lgeos = [], {}
    # small stars (contained side) + a few big ones (containing side)
    for i in range(90):
        cx, cy = rng.uniform(-2.0, 2.0, size=2)
        w = _star(cx, cy, rng.uniform(0.1, 0.5, size=7), rot=rng.uniform(0, 3))
        left_rows.append(_poly_doc(f"L{i:03d}", w))
        lgeos[f"L{i:03d}"] = from_wkt(w)
    for i in range(90, 110):
        cx, cy = rng.uniform(-2.0, 2.0, size=2)
        w = _star(cx, cy, rng.uniform(1.5, 3.0, size=9), rot=rng.uniform(0, 3))
        left_rows.append(_poly_doc(f"L{i:03d}", w))
        lgeos[f"L{i:03d}"] = from_wkt(w)
    right_rows, rgeos = [], {}
    for i in range(12):
        cx, cy = rng.uniform(-1.5, 1.5, size=2)
        w = _star(cx, cy, rng.uniform(0.8, 2.2, size=9), rot=rng.uniform(0, 3))
        right_rows.append(_poly_doc(f"R{i:02d}", w))
        rgeos[f"R{i:02d}"] = from_wkt(w)
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
    assert len(want) > 3, f"{predicate} fixture must be non-trivial"
    assert got == want


# ------------------------------------------------- overlaps / touches


@pytest.mark.parametrize(
    "a_wkt,b_wkt,want_overlaps,want_touches",
    [
        # partial overlap
        ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))", True, False),
        # shared-wall overlap: every vertex on the other's boundary
        ("POLYGON ((0 0, 2 0, 2 1, 0 1, 0 0))", "POLYGON ((1 0, 3 0, 3 1, 1 1, 1 0))", True, False),
        # edge touch only
        ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))", False, True),
        # corner touch only
        ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))", False, True),
        # containment: neither overlaps nor touches
        ("POLYGON ((-5 -5, 15 -5, 15 15, -5 15, -5 -5))", HOLED, False, False),
        # equal: neither
        (HOLED, HOLED, False, False),
        # disjoint
        ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))", False, False),
        # plus-sign cross overlap: all vertices mutually outside
        ("POLYGON ((4 -1, 6 -1, 6 11, 4 11, 4 -1))", "POLYGON ((-1 4, 11 4, 11 6, -1 6, -1 4))", True, False),
        # B fills A's hole: boundaries meet, interiors disjoint -> touches
        (HOLED, "POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))", False, True),
    ],
)
def test_overlaps_touches_golden(a_wkt, b_wkt, want_overlaps, want_touches):
    A, B = from_wkt(a_wkt), from_wkt(b_wkt)
    assert _refine("overlaps", A, B) is want_overlaps
    assert _refine("touches", A, B) is want_touches
    # kernel agreement
    assert alg.overlaps(A, B) is want_overlaps
    assert alg.touches(A, B) is want_touches


def test_overlaps_touches_random_star_parity():
    rng = np.random.default_rng(27)
    rights = [
        from_wkt(_star(0, 0, rng.uniform(2, 5, size=9), rot=rng.uniform(0, 3))),
        from_wkt(HOLED),
        from_wkt(BIG),
    ]
    lefts = []
    for _ in range(80):
        cx, cy = rng.uniform(-4, 8, size=2)
        lefts.append(
            from_wkt(_star(cx, cy, rng.uniform(0.4, 3.0, size=7), rot=rng.uniform(0, 3)))
        )
    n_ov = 0
    for B in rights:
        got_o = _refine_many("overlaps", lefts, B)
        want_o = np.array([alg.overlaps(A, B) for A in lefts])
        assert (got_o == want_o).all(), np.nonzero(got_o != want_o)
        got_t = _refine_many("touches", lefts, B)
        want_t = np.array([alg.touches(A, B) for A in lefts])
        assert (got_t == want_t).all(), np.nonzero(got_t != want_t)
        n_ov += int(want_o.sum())
    assert n_ov > 20, "overlaps fixture must be non-vacuous"


@pytest.mark.parametrize("predicate", ["overlaps", "touches", "crosses"])
def test_overlaps_touches_join_row_parity(spark, predicate):
    """overlaps/touches/crosses joins: row-SET parity vs the kernel
    (crosses is vacuously empty for areal pairs — overlaps is asserted
    non-vacuous)."""
    rng = np.random.default_rng(14)
    left_rows, lgeos = [], {}
    for i in range(80):
        cx, cy = rng.uniform(-2.0, 2.0, size=2)
        w = _star(cx, cy, rng.uniform(0.2, 1.2, size=7), rot=rng.uniform(0, 3))
        left_rows.append(_poly_doc(f"L{i:03d}", w))
        lgeos[f"L{i:03d}"] = from_wkt(w)
    right_rows, rgeos = [], {}
    for i in range(10):
        cx, cy = rng.uniform(-1.5, 1.5, size=2)
        w = _star(cx, cy, rng.uniform(0.6, 1.8, size=9), rot=rng.uniform(0, 3))
        right_rows.append(_poly_doc(f"R{i:02d}", w))
        rgeos[f"R{i:02d}"] = from_wkt(w)
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
    if predicate == "overlaps":
        assert len(want) > 10
    assert got == want

"""Planner refine regressions: the envelope prefilter and the envelope
shortcuts of `plan`/`apply_plan` must never change a query's rows from the
exact predicate's, on mixed tables and on all-points declarations alike."""

import pandas as pd
import pytest

from geomesa_spark.geom import algorithms as alg
from geomesa_spark.geom.wkt import from_wkt
from geomesa_spark.plans.planner import spatial_filter
from geomesa_spark.sources.docs import DOCS_SCHEMA, index_docs


def _doc(doc_id, wkt):
    return {
        "doc_id": doc_id,
        "spans": [
            {"kind": "text", "text": "body", "media_ref": "", "offset": 0},
            {"kind": "geo", "text": wkt, "media_ref": "", "offset": 1},
            {"kind": "time", "text": "2016-01-02T00:00:00.000Z", "offset": 2, "media_ref": ""},
        ],
    }


def _points(spark, pts: dict):
    rows = [_doc(k, v) for k, v in pts.items()]
    return index_docs(spark.createDataFrame(pd.DataFrame(rows), schema=DOCS_SCHEMA))


def _check(spark, query, pts, want):
    q = from_wkt(query)
    assert want == {k for k, v in pts.items() if alg.intersects(from_wkt(v), q)}
    docs = _points(spark, pts)
    for kind in ("mixed", "points"):
        got = {
            r.doc_id
            for r in spatial_filter(docs, query, geom_kind=kind).select("doc_id").collect()
        }
        assert got == want, kind


@pytest.mark.parametrize(
    "query,pts,want",
    [
        # a triangle with a doubled corner: every vertex sits on a bbox
        # corner, but it is not a solid rectangle
        (
            "POLYGON ((0 0, 1 0, 1 1, 1 1, 0 0))",
            {"above": "POINT (0.2 0.8)", "below": "POINT (0.8 0.2)"},
            {"below"},
        ),
        # corner bowtie: two triangles meeting at the centre
        (
            "POLYGON ((0 0, 1 1, 1 0, 0 1, 0 0))",
            {"top": "POINT (0.5 0.9)", "left": "POINT (0.1 0.5)"},
            {"left"},
        ),
    ],
)
def test_rect_shortcut_needs_a_solid_rectangle(spark, query, pts, want):
    """"Envelope inside the query rectangle => TRUE" holds only for a solid
    rectangle; any other ring whose vertices sit on its bbox corners must
    reach the exact refine."""
    _check(spark, query, pts, want)


def test_collection_query_keeps_line_and_point_members(spark):
    """A GEOMETRYCOLLECTION query's envelope prefilter covers its line and
    point members, not only its polygons, and the point refine locates
    them too."""
    query = (
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)), "
        "LINESTRING (2 0, 3 0), POINT (4 4))"
    )
    pts = {
        "in_poly": "POINT (0.5 0.5)",
        "on_line": "POINT (2.5 0)",
        "on_point": "POINT (4 4)",
        "off": "POINT (2.5 1)",
    }
    _check(spark, query, pts, {"in_poly", "on_line", "on_point"})

"""End-to-end pipeline tests: docs synthesis -> index job -> pushdown filter
-> spatial join, checked against brute-force oracles (reference test shape:
SparkSQLDataTest.scala:404-458 join-equivalence, tightened from count equality
to row-set equality per BASELINE.md)."""

import numpy as np
import pandas as pd
import pytest

from geomesa_spark.geom import algorithms as alg
from geomesa_spark.geom.wkb import from_wkb
from geomesa_spark.geom.wkt import from_wkt
from geomesa_spark.operators.spatial_join import spatial_join
from geomesa_spark.plans.planner import plan, apply_plan, spatial_filter
from geomesa_spark.sources.docs import index_docs, synth_docs, synth_docs_pdf


@pytest.fixture(scope="module")
def docs_indexed(spark):
    df = index_docs(synth_docs(spark, 800)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def docs_pdf():
    return synth_docs_pdf(800)


def brute_force_filter(docs_pdf, qgeom, predicate):
    out = set()
    for _, row in docs_pdf.iterrows():
        wkt = next(s["text"] for s in row["spans"] if s["kind"] == "geo")
        g = from_wkt(wkt)
        if predicate == "intersects":
            ok = alg.intersects(g, qgeom)
        elif predicate == "contains":
            ok = alg.contains(qgeom, g)
        elif predicate == "within":
            ok = alg.within(g, qgeom)
        else:
            raise ValueError(predicate)
        if ok:
            out.add(row["doc_id"])
    return out


def test_index_job_schema_and_invariant(spark, docs_indexed, docs_pdf):
    cols = set(docs_indexed.columns)
    assert {"doc_id", "spans", "geom_wkb", "ts", "x", "y", "z2", "week_bin", "z3", "xz2", "cell", "day"} <= cols
    # span-sequence invariant: spans unchanged through the index job
    out = {r["doc_id"]: r["spans"] for r in docs_indexed.select("doc_id", "spans").collect()}
    for _, row in docs_pdf.head(50).iterrows():
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in out[row["doc_id"]]]
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        assert got == want


@pytest.mark.parametrize(
    "wkt,predicate",
    [
        ("POLYGON((-10 -10, -10 10, 10 10, 10 -10, -10 -10))", "intersects"),
        ("POLYGON((-10 -10, -10 10, 10 10, 10 -10, -10 -10))", "contains"),
        ("POLYGON((0 0, 0 30, 40 30, 40 0, 0 0))", "within"),
        # non-rectangular query polygon (triangle): exercises the refine UDF
        ("POLYGON((-20 -20, 20 -20, 0 25, -20 -20))", "intersects"),
    ],
)
def test_spatial_filter_vs_brute_force(spark, docs_indexed, docs_pdf, wkt, predicate):
    q = from_wkt(wkt)
    got = {
        r.doc_id
        for r in spatial_filter(docs_indexed, wkt, predicate).select("doc_id").collect()
    }
    want = brute_force_filter(docs_pdf, q, predicate)
    assert got == want


def test_temporal_filter(spark, docs_indexed, docs_pdf):
    qp = plan(
        "POLYGON((-180 -90, -180 90, 180 90, 180 -90, -180 -90))",
        "intersects",
        interval=("2016-01-05", "2016-01-12"),
    )
    got = {r.doc_id for r in apply_plan(docs_indexed, qp).select("doc_id").collect()}
    lo = pd.Timestamp("2016-01-05", tz="UTC")
    hi = pd.Timestamp("2016-01-12", tz="UTC")
    want = set()
    for _, row in docs_pdf.iterrows():
        iso = next(s["text"] for s in row["spans"] if s["kind"] == "time")
        t = pd.Timestamp(iso)
        if lo <= t < hi:
            want.add(row["doc_id"])
    assert got == want


def test_pushdown_prunes(spark, docs_indexed):
    """Plan shape check: the filtered plan must contain pushable comparisons,
    not a bare UDF filter over the full scan."""
    df = spatial_filter(docs_indexed, "POLYGON((-10 -10, -10 10, 10 10, 10 -10, -10 -10))")
    plan_str = df._jdf.queryExecution().executedPlan().toString()
    assert "minx" in plan_str and "cell" in plan_str


# ------------------------------------------------------------- spatial join


@pytest.fixture(scope="module")
def join_sides(spark):
    """Reference join-oracle shape (SparkSQLDataTest.scala:404-458): seeded
    random points x small polygons, confined to a dense region so the join
    is non-trivial (hundreds of matching pairs)."""
    region = (-3.0, -3.0, 3.0, 3.0)
    left = index_docs(synth_docs(spark, 600, seed=42, bbox=region)).cache()
    right = index_docs(synth_docs(spark, 120, seed=7, bbox=region)).cache()
    left.count(), right.count()
    return left, right


def brute_force_join(spark, left, right, predicate):
    lrows = [(r.doc_id, bytes(r.geom_wkb)) for r in left.select("doc_id", "geom_wkb").collect()]
    rrows = [(r.doc_id, bytes(r.geom_wkb)) for r in right.select("doc_id", "geom_wkb").collect()]
    fn = getattr(alg, predicate)
    out = set()
    geos_l = [(i, from_wkb(w)) for i, w in lrows]
    geos_r = [(i, from_wkb(w)) for i, w in rrows]
    for li, lg in geos_l:
        for ri, rg in geos_r:
            if fn(lg, rg):
                out.add((li, ri))
    return out


@pytest.mark.parametrize("predicate", ["intersects", "within", "covers", "contains"])
def test_spatial_join_row_parity(spark, join_sides, predicate):
    left, right = join_sides
    got_df = spatial_join(left, right, predicate=predicate)
    got = {(r.doc_id, r.doc_id_r) for r in got_df.select("doc_id", "doc_id_r").collect()}
    want = brute_force_join(spark, left, right, predicate)
    assert len(want) > 15, "fixture must be non-trivial"
    assert got == want


def test_spatial_join_no_duplicates(spark, join_sides):
    left, right = join_sides
    got_df = spatial_join(left, right, predicate="intersects")
    n = got_df.count()
    nd = got_df.select("doc_id", "doc_id_r").dropDuplicates().count()
    assert n == nd


def test_spatial_join_broadcast_and_salt_same_result(spark, join_sides):
    """Auto, broadcast and salted shuffle joins give the same pairs. 12,800
    extra left points share one join cell — over the 10k-row hot-cell floor
    — so the salted shuffle join takes its hot-cell branch."""
    from geomesa_spark.sources.docs import index_points_df

    left, right = join_sides
    hot = index_points_df(
        spark.range(12_800).selectExpr(
            "format_string('hot-%05d', id) AS doc_id",
            "0.1 + (id % 128) * 0.02 AS lon",
            "0.1 + floor(id / 128) * 0.025 AS lat",
        ),
        "lon",
        "lat",
    )
    left = left.select("doc_id", "geom_wkb").unionByName(hot.select("doc_id", "geom_wkb"))

    def pairs(df):
        return {(r.doc_id, r.doc_id_r) for r in df.select("doc_id", "doc_id_r").collect()}

    salted_df = spatial_join(left, right, broadcast=False, salt=4)
    assert "_salt" in salted_df._jdf.queryExecution().optimizedPlan().toString()
    base = pairs(spatial_join(left, right))
    assert base == pairs(spatial_join(left, right, broadcast=True)) == pairs(salted_df)
    assert any(a.startswith("hot-") for a, _ in base)


def test_spatial_join_semi_anti(spark, join_sides):
    left, right = join_sides
    inner = spatial_join(left, right)
    semi = spatial_join(left, right, how="left_semi")
    anti = spatial_join(left, right, how="left_anti")
    inner_ids = {r.doc_id for r in inner.select("doc_id").collect()}
    semi_ids = {r.doc_id for r in semi.select("doc_id").collect()}
    anti_ids = {r.doc_id for r in anti.select("doc_id").collect()}
    assert semi_ids == inner_ids
    assert semi_ids | anti_ids == {r.doc_id for r in left.select("doc_id").collect()}
    assert not (semi_ids & anti_ids)


# --------- regressions folded from the round-advice files (round-5 hygiene)


def _advice_doc(doc_id, wkt, iso="2016-01-02T00:00:00.000Z"):
    return {
        "doc_id": doc_id,
        "spans": [
            {"kind": "text", "text": "body", "media_ref": "", "offset": 0},
            {"kind": "geo", "text": wkt, "media_ref": "", "offset": 1},
            {"kind": "time", "text": iso, "media_ref": "", "offset": 2},
        ],
    }


def test_extent_row_across_cell_boundary_not_pruned(spark):
    """Query POLYGON((20 0, 22.4 0, 22.4 5, 20 5, 20 0)) covers coarse cell
    192 only; an intersecting polygon with envelope [22.2,23.0]x[2.25,2.75]
    has its CENTER in cell 193. Centroid-cell pruning silently dropped it;
    the MULTI_CELL sentinel keeps it."""
    from geomesa_spark.sources.docs import DOCS_SCHEMA, MULTI_CELL

    poly = "POLYGON ((22.2 2.25, 22.2 2.75, 23.0 2.75, 23.0 2.25, 22.2 2.25))"
    inside = "POINT (21.0 2.0)"  # sanity row that was never at risk
    outside = "POINT (60.0 60.0)"
    pdf = pd.DataFrame(
        [_advice_doc("d-straddle", poly), _advice_doc("d-in", inside), _advice_doc("d-out", outside)]
    )
    docs = index_docs(spark.createDataFrame(pdf, schema=DOCS_SCHEMA))
    # the straddling polygon spans two coarse cells -> MULTI_CELL sentinel
    cells = {r.doc_id: r.cell for r in docs.select("doc_id", "cell").collect()}
    assert cells["d-straddle"] == MULTI_CELL
    got = {
        r.doc_id
        for r in spatial_filter(docs, "POLYGON((20 0, 22.4 0, 22.4 5, 20 5, 20 0))")
        .select("doc_id")
        .collect()
    }
    assert got == {"d-straddle", "d-in"}


def test_index_docs_survives_malformed_time_spans(spark):
    """One malformed/empty time span must yield NULL ts, not kill the whole
    index job under ANSI mode (found via converter try_to_timestamp rows)."""
    from geomesa_spark.sources.docs import DOCS_SCHEMA

    rows = [
        {"doc_id": "ok", "spans": [
            {"kind": "text", "text": "b", "media_ref": "", "offset": 0},
            {"kind": "geo", "text": "POINT (1 1)", "media_ref": "", "offset": 1},
            {"kind": "time", "text": "2016-01-02T00:00:00.000Z", "media_ref": "", "offset": 2}]},
        {"doc_id": "empty_ts", "spans": [
            {"kind": "text", "text": "b", "media_ref": "", "offset": 0},
            {"kind": "geo", "text": "POINT (2 2)", "media_ref": "", "offset": 1},
            {"kind": "time", "text": "", "media_ref": "", "offset": 2}]},
        {"doc_id": "garbage_ts", "spans": [
            {"kind": "text", "text": "b", "media_ref": "", "offset": 0},
            {"kind": "geo", "text": "POINT (3 3)", "media_ref": "", "offset": 1},
            {"kind": "time", "text": "not-a-time", "media_ref": "", "offset": 2}]},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=DOCS_SCHEMA)
    out = {r.doc_id: r for r in index_docs(df).select("doc_id", "ts", "x").collect()}
    assert out["ok"].ts is not None and out["ok"].x == 1.0
    assert out["empty_ts"].ts is None and out["empty_ts"].x == 2.0
    assert out["garbage_ts"].ts is None and out["garbage_ts"].x == 3.0


def test_points_geom_kind_refine_parity_and_pruning(spark):
    """plan(geom_kind='points') must (a) return identical rows to the mixed
    refine on an all-points table, (b) keep geom_wkb's producing UDF out of
    the plan, and (c) reject unknown kinds."""
    from geomesa_spark.sources.docs import index_points_df

    pdf = pd.DataFrame(
        {
            "doc_id": [f"p{i}" for i in range(400)],
            "lon": [((i * 7919) % 360) - 180.0 + 0.5 for i in range(400)],
            "lat": [((i * 104729) % 180) - 90.0 + 0.25 for i in range(400)],
        }
    )
    d = index_points_df(spark.createDataFrame(pdf), "lon", "lat")
    pentagon = "POLYGON ((-30 -20, 30 -20, 45 10, 0 35, -45 10, -30 -20))"
    for pred in ("contains", "intersects", "within", "covers"):
        fast = {r.doc_id for r in spatial_filter(d, pentagon, pred, geom_kind="points").collect()}
        mixed = {r.doc_id for r in spatial_filter(d, pentagon, pred).collect()}
        assert fast == mixed, pred
    assert len(fast) > 5
    out = spatial_filter(d, pentagon, "contains", geom_kind="points").select("doc_id")
    p = out._jdf.queryExecution().executedPlan().toString()
    # exactly one python eval (the ray cast); the makePoint WKB UDF pruned
    assert p.count("ArrowEvalPython") == 1, p
    with pytest.raises(ValueError):
        plan(pentagon, "contains", geom_kind="bogus")

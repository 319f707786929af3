"""DataFrame-native cell-ring kNN for large query tables (round-3 item #8).

knn_join keeps all per-query state in DataFrames: a 10k-point query table
completes in bounded rounds (ceil(log4(max/start)) Spark jobs), and results
match the driver-loop knn() / brute force on sampled queries."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.geom.algorithms import haversine
from geomesa_spark.operators.knn import knn, knn_join
from geomesa_spark.sources.docs import index_docs, synth_docs


@pytest.fixture(scope="module")
def docs(spark):
    d = index_docs(synth_docs(spark, 4000, seed=11, bbox=(-60.0, -30.0, 60.0, 30.0)))
    d = d.filter(F.col("x").isNotNull()).cache()
    d.count()
    return d


def _brute_knn(doc_rows, qlon, qlat, k, max_radius_m):
    ds = sorted(
        (haversine(r["x"], r["y"], qlon, qlat), r["doc_id"]) for r in doc_rows
    )
    return [(i, d) for d, i in ds[:k] if d <= max_radius_m]


def test_knn_join_ten_thousand_queries(spark, docs):
    """10k query points complete in bounded rounds; sampled parity vs brute
    force and vs the process-style knn()."""
    rng = np.random.default_rng(5)
    qpdf = pd.DataFrame(
        {
            "query_id": [f"q{i:05d}" for i in range(10_000)],
            "q_lon": rng.uniform(-55, 55, size=10_000),
            "q_lat": rng.uniform(-25, 25, size=10_000),
        }
    )
    queries = spark.createDataFrame(qpdf).repartition(8)
    out = knn_join(
        docs, queries, k=3, start_radius_m=50_000.0, max_radius_m=5_000_000.0
    )
    got = out.select("query_id", "doc_id", "dist_m").toPandas()
    # every query found its k (space is densely covered at this radius)
    per_q = got.groupby("query_id").size()
    assert len(per_q) == 10_000
    assert (per_q == 3).all()
    # sampled brute-force parity (row sets, not just counts)
    doc_rows = [r.asDict() for r in docs.select("doc_id", "x", "y").collect()]
    for qi in [0, 1234, 9999, 4242, 7777]:
        row = qpdf.iloc[qi]
        want = {d for d, _ in _brute_knn(doc_rows, row.q_lon, row.q_lat, 3, 5e6)}
        have = set(got[got.query_id == row.query_id].doc_id)
        assert have == want, row.query_id


# a pole-adjacent and an antimeridian query among them
PROCESS_QUERIES = [
    ("qa", 10.0, 5.0),
    ("qb", -179.9, 0.0),
    ("qc", 59.0, 29.5),
    ("qd", 0.0, -29.9),
]


def test_knn_join_matches_process_knn(spark, docs):
    """Same fixtures through both formulations -> identical (query, doc)
    row sets, including a pole-adjacent and an antimeridian query; an empty
    query list gives no rows under the same result schema."""
    qs = PROCESS_QUERIES
    # max radius 2e7 m so the antimeridian query reaches the doc region
    # (docs live in lon [-60, 60]; qb's window must wrap +-180)
    out = knn(docs, qs, k=4, start_radius_m=100_000.0, max_radius_m=2.0e7)
    proc = {(r.query_id, r.doc_id) for r in out.select("query_id", "doc_id").collect()}
    empty = knn(docs, [], k=4)
    assert empty.dtypes == out.dtypes and empty.count() == 0
    qdf = spark.createDataFrame(qs, "query_id string, q_lon double, q_lat double")
    join = {
        (r.query_id, r.doc_id)
        for r in knn_join(
            docs, qdf, k=4, start_radius_m=100_000.0, max_radius_m=2.0e7
        ).select("query_id", "doc_id").collect()
    }
    assert proc == join and len(proc) == 16


def test_knn_rows_round_trip_exactly(spark, docs):
    """knn builds its result from the rows it collects: every returned row
    equals its source docs row in every column (binary, array<struct>,
    timestamp, date and null values), also under a non-UTC session time
    zone."""
    d = docs.withColumn("blob", F.when(F.col("x") > 0, F.col("geom_wkb"))).withColumn(
        "note", F.when(F.col("y") > 0, F.lit("north"))
    )
    src = {r.doc_id: tuple(r) for r in d.collect()}
    qs = PROCESS_QUERIES
    point = {q: (lon, lat) for q, lon, lat in qs}
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            out = knn(d, qs, k=4, start_radius_m=100_000.0, max_radius_m=2.0e7)
            assert out.dtypes == d.dtypes + [("query_id", "string"), ("dist_m", "double")]
            rows = out.collect()
            assert len(rows) == 16
            assert {r.blob is None for r in rows} == {True, False}
            assert {r.note is None for r in rows} == {True, False}
            for r in rows:
                assert tuple(r)[:-2] == src[r.doc_id], (tz, r.doc_id)
                assert r.dist_m == pytest.approx(haversine(r.x, r.y, *point[r.query_id]))
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_knn_rejects_duplicate_query_ids(spark, docs):
    """Two queries under one id would be ranked as one query: knn refuses
    them before any Spark job runs."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "knn-duplicate-ids")
    try:
        for qs in ([("q", 10.0, 5.0), ("q", 10.0, 5.0)], [("q", 10.0, 5.0), ("q", 0.0, -29.9)]):
            with pytest.raises(ValueError, match="distinct"):
                knn(docs, qs, k=3)
        assert sc.statusTracker().getJobIdsForGroup("knn-duplicate-ids") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_knn_join_max_radius_truncates(spark, docs):
    """A query in an empty region with a tiny max radius returns < k rows
    instead of looping."""
    qdf = spark.createDataFrame(
        [("far", 179.0, 89.0)], "query_id string, q_lon double, q_lat double"
    )
    out = knn_join(
        docs, qdf, k=5, start_radius_m=1_000.0, max_radius_m=2_000.0
    ).collect()
    assert len(out) < 5


# --------- regressions folded from the round-advice files (round-5 hygiene)


def test_disc_window_exact_lon_bound():
    import math

    from geomesa_spark.geom.algorithms import EARTH_MEAN_RADIUS_M
    from geomesa_spark.operators.knn import disc_window_deg

    # at lat 60, radius 1000 km: naive dlat/cos(lat) = 17.986 deg but the
    # true disc reaches asin(sin(r)/cos(lat)) = 18.21 deg of longitude
    dlat, dlon = disc_window_deg(60.0, 1_000_000.0)
    r = 1_000_000.0 / EARTH_MEAN_RADIUS_M
    naive = math.degrees(r) / math.cos(math.radians(60.0))
    exact = math.degrees(math.asin(math.sin(r) / math.cos(math.radians(60.0))))
    assert dlon == pytest.approx(exact)
    assert dlon > naive
    # a point at the disc's widest longitude must be inside the window:
    # the bearing-90deg geodesic endpoint sits at lon offset `exact`
    assert haversine(0.0, 60.0, exact, 60.0) > 1_000_000.0 * 0.999  # sanity


def test_disc_window_pole_touch_full_lon():
    from geomesa_spark.operators.knn import _query_windows, disc_window_deg

    dlat, dlon = disc_window_deg(85.0, 1_000_000.0)
    assert dlon == 180.0
    ws = _query_windows([("q", 0.0, 85.0)], 1_000_000.0)
    assert len(ws) == 1
    _, (x0, y0, x1, y1) = ws[0]
    assert (x0, x1) == (-180.0, 180.0)
    # (180, 88) is 778 km from (0, 85) over the pole
    assert haversine(0.0, 85.0, 180.0, 88.0) < 1_000_000.0
    assert x0 <= 180.0 <= x1 and y0 <= 88.0 <= y1


def test_knn_join_transpolar_neighbor(spark):
    """knn_join with a pole-touching disc must find the trans-polar doc and
    must NOT mark the query done with wrong nearer-looking neighbors."""
    from geomesa_spark.sources.docs import index_points_df

    pdf = pd.DataFrame(
        {
            "doc_id": ["far_lon", "near_pole", "equator"],
            "lon": [180.0, 10.0, 0.0],
            "lat": [88.0, 80.0, 0.0],
        }
    )
    docs = index_points_df(spark.createDataFrame(pdf), "lon", "lat")
    queries = spark.createDataFrame(
        [("q0", 0.0, 85.0)], "query_id string, q_lon double, q_lat double"
    )
    out = knn_join(
        docs, queries, k=2, start_radius_m=1_000_000.0, max_radius_m=1_000_000.0
    )
    got = {(r.doc_id, round(r.dist_m)) for r in out.collect()}
    d_far = round(haversine(0.0, 85.0, 180.0, 88.0))
    d_np = round(haversine(0.0, 85.0, 10.0, 80.0))
    assert {g[0] for g in got} == {"far_lon", "near_pole"}, got
    assert got == {("far_lon", d_far), ("near_pole", d_np)}

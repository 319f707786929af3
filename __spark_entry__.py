"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes the engine's operator surface (SURVEY.md §2) over the
driver-generated parquet tables; `oracle_sql()` gives the DuckDB-equivalent
ANSI SQL. The tables carry no coordinates, so geometry is DERIVED with
identical integer-modulo arithmetic in both engines (BASELINE.json
input_hint: synthesize deterministically; constants in geomesa_spark.oracle).

Column names are aliased identically on both sides; floating aggregates are
rounded (r6/r3) so IEEE-double results hash identically."""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import geomesa_spark
from geomesa_spark import oracle as O
from geomesa_spark.operators import processes
from geomesa_spark.operators.dedup import ngram_jaccard_pairs, minhash_lsh_pairs, simhash_pairs
from geomesa_spark.operators.density import assign_tiles, density, grid_i, tile_counts
from geomesa_spark.operators.knn import haversine_col, knn
from geomesa_spark.operators.similarity import brute_force_topk, ann_topk_lsh
from geomesa_spark.operators.spatial_join import spatial_join
from geomesa_spark.sources.docs import index_points_df

_INITIALIZED = set()

# the flagship query polygon: non-rectangular pentagon (no axis-parallel or
# lattice-aligned edges -> even-odd test is tie-free on the derived lattice)
PENTAGON = [(-30.0, -20.0), (10.0, -25.0), (25.0, 10.0), (0.0, 30.0), (-25.0, 15.0)]
PENTAGON_WKT = "POLYGON((-30 -20, 10 -25, 25 10, 0 30, -25 15, -30 -20))"

KNN_QUERIES = [("q0", 0.5, 0.5), ("q1", -76.5, 38.5), ("q2", 139.7, 35.6)]
PROX_POINT = (-76.5, 38.5)


def _init(spark: SparkSession) -> None:
    if id(spark) not in _INITIALIZED:
        geomesa_spark.init_sql(spark)
        # unix_timestamp()/timestamp literals are session-tz-dependent; the
        # DuckDB oracles use naive/UTC semantics — pin the session to UTC
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _INITIALIZED.add(id(spark))


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _docs_pts(spark, sf_dir) -> DataFrame:
    """documents + derived lon/lat, engine-indexed (x/y/envelope/cell/wkb)."""
    d = _read(spark, sf_dir, "documents").withColumn(
        "lon", F.expr(O.DOC_LON)
    ).withColumn("lat", F.expr(O.DOC_LAT))
    return index_points_df(d, "lon", "lat")


def _events_pts(spark, sf_dir, parallel: bool = False) -> DataFrame:
    """parallel=True spreads a few-split scan BEFORE the derived WKB UDF
    column — for consumers that actually evaluate geom_wkb over every row
    (convex hull, equals join), where a downstream exchange would leave
    the UDF on the scan's single input split. Consumers that prune
    geom_wkb (tiles, density, knn) skip the extra exchange."""
    e = _read(spark, sf_dir, "events").withColumn(
        "lon", F.expr(O.EVENT_LON)
    ).withColumn("lat", F.expr(O.EVENT_LAT))
    if parallel:
        from geomesa_spark.plans.partitioning import _ensure_parallel

        e = _ensure_parallel(e)
    return index_points_df(e, "lon", "lat")


def _part_polys(spark, sf_dir) -> DataFrame:
    """Axis-aligned rectangle 'regions' derived from part (poly side of the
    spatial join; envelope == geometry so bbox SQL is an exact oracle)."""
    from geomesa_spark.functions.library import UDFS

    p = (
        _read(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 200)
        .withColumn("cx", F.expr(O.PART_CX))
        .withColumn("cy", F.expr(O.PART_CY))
        .withColumn("hw", F.expr(O.PART_HW))
        .withColumn("hh", F.expr(O.PART_HH))
    )
    return p.select(
        F.col("p_partkey").alias("poly_id"),
        (F.col("cx") - F.col("hw")).alias("minx"),
        (F.col("cy") - F.col("hh")).alias("miny"),
        (F.col("cx") + F.col("hw")).alias("maxx"),
        (F.col("cy") + F.col("hh")).alias("maxy"),
        UDFS["st_makeBBOX"](
            F.col("cx") - F.col("hw"),
            F.col("cy") - F.col("hh"),
            F.col("cx") + F.col("hw"),
            F.col("cy") + F.col("hh"),
        ).alias("geom_wkb"),
    )


# --------------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-polygon containment over span-derived documents at
    sf0.001 — parse -> index -> prune -> vectorized ray-cast refine."""
    _init(spark)
    return q_spatial_pip_filter(spark, "/root/testdata/sf0.001")


# ------------------------------------------------------------------- queries


def q_spatial_pip_filter(spark, sf_dir):
    _init(spark)
    from geomesa_spark.plans.planner import spatial_filter

    d = _docs_pts(spark, sf_dir)
    # planner path: cell pruning + envelope compare + vectorized ray-cast;
    # geom_kind="points" (index_points_df output) refines on x/y alone —
    # the makePoint WKB column prunes out of the scan entirely
    return spatial_filter(d, PENTAGON_WKT, "contains", geom_kind="points").select(
        "doc_id",
        F.round("lon", 6).alias("lon_r6"),
        F.round("lat", 6).alias("lat_r6"),
    )


def q_spatial_bbox_temporal(spark, sf_dir):
    _init(spark)
    e = _events_pts(spark, sf_dir)
    return e.filter(
        (F.col("x") >= -60.0) & (F.col("x") <= 60.0)
        & (F.col("y") >= -30.0) & (F.col("y") <= 30.0)
        & (F.col("ts") >= F.lit("2024-01-05")) & (F.col("ts") < F.lit("2024-01-20"))
    ).select("event_id")


def q_spatial_join_pip(spark, sf_dir):
    _init(spark)
    docs = _docs_pts(spark, sf_dir)
    polys = _part_polys(spark, sf_dir)
    j = spatial_join(docs, polys, predicate="intersects", broadcast=True)
    return j.select("doc_id", "poly_id")


def q_distance_join(spark, sf_dir):
    """st_dwithin as a JOIN predicate (reference SQLRules join-rewrite):
    geodesic distance-bounded doc x event pairs via the lat-aware grid-cell
    equi-join — one shuffle, exact haversine refine, zero Python. Oracle:
    brute-force cross join + the same haversine in DuckDB."""
    _init(spark)
    from geomesa_spark.operators.spatial_join import distance_join

    d = _docs_pts(spark, sf_dir).select("doc_id", "x", "y")
    e = _events_pts(spark, sf_dir).select("event_id", "x", "y")
    j = distance_join(d, e, meters=100_000.0)
    return j.select("doc_id", "event_id", F.round("dist_m", 6).alias("dist_r6"))


def q_equals_join_snap(spark, sf_dir):
    """st_equals as a JOIN predicate (r8): docs and events snapped to a
    2-degree grid; pairs whose snapped POINT geometries are geometrically
    equal. Exercises the equals cover-cell plan + byte-fast-path refine
    end-to-end; the oracle mirrors with exact coordinate equality (the
    snap arithmetic is IEEE-identical in both engines)."""
    _init(spark)
    d = (
        _read(spark, sf_dir, "documents")
        .withColumn("lon", F.floor(F.expr(O.DOC_LON) / 2.0) * 2.0)
        .withColumn("lat", F.floor(F.expr(O.DOC_LAT) / 2.0) * 2.0)
        .select("doc_id", "lon", "lat")
    )
    e = (
        _read(spark, sf_dir, "events")
        .withColumn("lon", F.floor(F.expr(O.EVENT_LON) / 2.0) * 2.0)
        .withColumn("lat", F.floor(F.expr(O.EVENT_LAT) / 2.0) * 2.0)
        .select("event_id", "lon", "lat")
    )
    from geomesa_spark.plans.partitioning import _ensure_parallel

    # spread the single-split events scan below the point-WKB UDF (the
    # join exchange above it would otherwise leave 1M st_makePoint calls
    # on one core — r9, guide §2)
    j = spatial_join(
        index_points_df(d, "lon", "lat"),
        index_points_df(_ensure_parallel(e), "lon", "lat"),
        predicate="equals",
    )
    return j.select("doc_id", "event_id")


def q_xz2_extent_query(spark, sf_dir):
    """Extent (polygon) query through the XZ2 index: one cell per geometry,
    range prefilter, envelope refine (XZ2SFC.scala semantics)."""
    _init(spark)
    from pyspark.sql.types import LongType

    from geomesa_spark.index.xz2 import XZ2SFC, xz2_index_many

    sfc = XZ2SFC(g=12)

    def xz2(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        # one numpy pass over the whole Arrow batch (not a per-row loop)
        return pd.Series(xz2_index_many(minx, miny, maxx, maxy, g=12))

    xz2_udf = F.pandas_udf(xz2, LongType())
    polys = _part_polys(spark, sf_dir).withColumn(
        "xz2", xz2_udf("minx", "miny", "maxx", "maxy")
    )
    window = (-40.0, -20.0, 10.0, 25.0)
    ranges = sfc.ranges([window], max_ranges=60)
    from geomesa_spark.plans.planner import ranges_between_sql

    pre = polys.filter(F.expr(ranges_between_sql("xz2", ranges)))
    exact = pre.filter(
        (F.col("minx") <= window[2]) & (F.col("maxx") >= window[0])
        & (F.col("miny") <= window[3]) & (F.col("maxy") >= window[1])
    )
    return exact.select("poly_id")


# derived per-polygon timestamp for the XZ3 query (epoch 2024-01-01 + up to
# 30 days, deterministic in p_partkey; identical arithmetic in the oracle)
XZ3_T0 = 1704067200
XZ3_TS = f"({XZ3_T0} + (p_partkey * 40009) % 2592000)"
XZ3_BBOX = (-60.0, -30.0, 40.0, 35.0)
XZ3_INTERVAL = ("2024-01-05", "2024-01-20")


def q_xz3_extent_temporal(spark, sf_dir):
    """Spatio-temporal EXTENT query through the TRUE XZ3 curve: one
    (week_bin, xz3) code per extent, planner range prefilter (prunes the
    time axis within a bin — the property the composed (week_bin, xz2)
    pair loses), then the exact envelope+interval compare."""
    _init(spark)
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    from geomesa_spark.index.xz3 import xz3_index_many
    from geomesa_spark.plans.planner import xz3_predicate

    polys = _part_polys(spark, sf_dir).withColumn(
        "ts_epoch",
        (F.lit(XZ3_T0) + (F.col("poly_id") * 40009) % 2592000).cast("long"),
    )
    st = StructType([StructField("week_bin", LongType()), StructField("xz3", LongType())])

    def keys(minx, miny, maxx, maxy, ts):  # no hints (annotations trap)
        wb, code = xz3_index_many(
            minx.to_numpy(float), miny.to_numpy(float),
            maxx.to_numpy(float), maxy.to_numpy(float),
            ts.to_numpy(np.float64),
        )
        return pd.DataFrame({"week_bin": wb, "xz3": code})

    keyed = polys.withColumn(
        "_k", F.pandas_udf(keys, st)("minx", "miny", "maxx", "maxy", "ts_epoch")
    ).select("*", "_k.*")
    pred = xz3_predicate([XZ3_BBOX], XZ3_INTERVAL, max_ranges=120)
    t0 = int(pd.Timestamp(XZ3_INTERVAL[0]).timestamp())
    t1 = int(pd.Timestamp(XZ3_INTERVAL[1]).timestamp())
    exact = (
        (F.col("minx") <= XZ3_BBOX[2]) & (F.col("maxx") >= XZ3_BBOX[0])
        & (F.col("miny") <= XZ3_BBOX[3]) & (F.col("maxy") >= XZ3_BBOX[1])
        & (F.col("ts_epoch") >= t0) & (F.col("ts_epoch") < t1)
    )
    return keyed.filter(pred & exact).select("poly_id")


def q_knn_geodesic(spark, sf_dir):
    _init(spark)
    e = _events_pts(spark, sf_dir).withColumnRenamed("event_id", "doc_id")
    # start radius ~ the estimatedDistance hint of the reference kNN process
    res = knn(e, KNN_QUERIES, k=10, start_radius_m=500_000, max_radius_m=20_000_000)
    return res.select(
        "query_id", "doc_id", F.round("dist_m", 6).alias("dist_r6")
    )


def q_knn_join_table(spark, sf_dir):
    """Cell-ring kNN over a query TABLE (knn_join): 24 deterministic query
    points, k=3 by geodesic distance — the DataFrame-native formulation for
    large query sets (no per-query driver state); oracle = exact per-query
    window top-k in DuckDB."""
    _init(spark)
    from geomesa_spark.operators.knn import knn_join

    e = _events_pts(spark, sf_dir).withColumnRenamed("event_id", "doc_id")
    q = spark.range(24).select(
        F.format_string("q%02d", F.col("id").cast("int")).alias("query_id"),
        ((F.col("id") * 37 % 120) - 60).cast("double").alias("q_lon"),
        ((F.col("id") * 53 % 60) - 30).cast("double").alias("q_lat"),
    )
    res = knn_join(e, q, k=3, start_radius_m=500_000, max_radius_m=20_000_000)
    return res.select("query_id", "doc_id", F.round("dist_m", 6).alias("dist_r6"))


def q_dwithin_proximity(spark, sf_dir):
    _init(spark)
    e = _events_pts(spark, sf_dir)
    lon, lat = PROX_POINT
    prox = processes.proximity_search(e, [PROX_POINT], 500_000.0)
    return prox.select(
        "event_id",
        F.round(haversine_col(F.col("x"), F.col("y"), F.lit(lon), F.lit(lat)), 6).alias(
            "dist_r6"
        ),
    )


# tube/route corridor fixtures (events span 2024-01): three track vertices
# spread across the month with 5-day half-windows, a 3-leg route with a
# bearing gate on a deterministically derived heading column
TUBE_TRACK = [
    (-76.5, 38.5, "2024-01-05 12:00:00"),
    (-20.0, 42.0, "2024-01-15 00:00:00"),
    (60.0, -10.0, "2024-01-25 06:00:00"),
]
TUBE_METERS = 5_000_000.0
TUBE_WINDOW_S = 432_000.0  # 5 days
ROUTE_PTS = [(-80.0, 30.0), (-40.0, 45.0), (10.0, 10.0), (60.0, -20.0)]
ROUTE_METERS = 1_000_000.0
ROUTE_TOL_DEG = 60.0
HEADING_SQL = "cast((event_id * 31) % 360 as double)"


def q_tube_select_corridor(spark, sf_dir):
    """TubeSelectProcess analog (SURVEY 2.6): events within a buffered,
    time-binned corridor around a 3-vertex track."""
    _init(spark)
    e = _events_pts(spark, sf_dir)
    out = processes.tube_select(e, TUBE_TRACK, TUBE_METERS, TUBE_WINDOW_S)
    return out.select("event_id")


def q_route_bearing(spark, sf_dir):
    """RouteSearchProcess analog (SURVEY 2.6): events along a route whose
    heading matches the local segment bearing within tolerance."""
    _init(spark)
    e = _events_pts(spark, sf_dir).withColumn("heading", F.expr(HEADING_SQL))
    out = processes.route_search(
        e,
        ROUTE_PTS,
        ROUTE_METERS,
        heading_tolerance_deg=ROUTE_TOL_DEG,
        heading_col="heading",
    )
    return out.select("event_id")


# per-event track segments: SHORT (<= ~2.8 deg) deterministic displacement
# from a scaled base point — consecutive random GLOBAL events would make
# ~hemisphere-long segments whose grid-cell covers explode the join (the
# first cut of this gate measured 174 s at sf0.1); realistic track legs are
# local. All four expressions are exact-double SQL shared with the oracle.
SEG_AX = f"(({O.EVENT_LON}) * 9.8e-1)"
SEG_AY = f"(({O.EVENT_LAT}) * 9.5e-1)"
SEG_DX = "((((event_id * 13) % 400) / 1e2) - 2e0)"
SEG_DY = "((((event_id * 17) % 400) / 1e2) - 2e0)"


def q_track_region_hits(spark, sf_dir):
    """Lineal x areal JOIN gate (round 6): one short track SEGMENT per
    event as a LINESTRING geometry, spatial-joined with the rectangle
    regions on st_intersects — drives the grid join + the batched lineal
    refine (geom/vectorized.lineal_predicate_batch) inside a hash-checked
    gate. Oracle: exact Liang-Barsky segment-vs-closed-rect clipping in
    pure SQL over the identically-derived coordinates."""
    _init(spark)
    from geomesa_spark.functions.library import UDFS
    from geomesa_spark.plans.partitioning import _ensure_parallel

    # spread the single-split scan BEFORE the segment-WKB UDF chain: the
    # broadcast join preserves partitioning, so without this the segment
    # construction runs on one core (r9, guide §2)
    e = _ensure_parallel(_read(spark, sf_dir, "events"))
    seg = (
        e.withColumn("ax", F.expr(SEG_AX))
        .withColumn("ay", F.expr(SEG_AY))
        .withColumn("bx", F.expr(SEG_AX) + F.expr(SEG_DX))
        .withColumn("by", F.expr(SEG_AY) + F.expr(SEG_DY))
        .select(
            F.col("event_id").alias("seg_id"),
            F.least("ax", "bx").alias("minx"),
            F.least("ay", "by").alias("miny"),
            F.greatest("ax", "bx").alias("maxx"),
            F.greatest("ay", "by").alias("maxy"),
            UDFS["st_makeLine"](
                F.array(
                    UDFS["st_makePoint"](F.col("ax"), F.col("ay")),
                    UDFS["st_makePoint"](F.col("bx"), F.col("by")),
                )
            ).alias("geom_wkb"),
        )
    )
    polys = _part_polys(spark, sf_dir)
    j = spatial_join(seg, polys, predicate="intersects", broadcast=True)
    return j.select("seg_id", "poly_id")


def q_tile_assignment_z8(spark, sf_dir):
    _init(spark)
    return tile_counts(_docs_pts(spark, sf_dir), 8).select(
        "tile_x", "tile_y", "n_docs"
    )


def q_tile_render_png(spark, sf_dir):
    """Distributed density->PNG heatmap tiles, decoded BACK to per-pixel
    rows so the whole render path — mercator pixel math, per-tile
    applyInPandas render, the pure-python PNG encoder AND decoder — sits
    inside the hash-checked gate. vmax=255 makes pixel value == count, so
    the oracle is a plain per-pixel group-by on the same tile math."""
    _init(spark)
    from pyspark.sql.types import LongType, StructField, StructType

    from geomesa_spark.multimodal.png import decode_png
    from geomesa_spark.operators.density import render_tile_pngs

    zoom, P = 3, 16
    tiles = render_tile_pngs(_docs_pts(spark, sf_dir), zoom, tile_px=P, vmax=255)
    out_schema = StructType(
        [StructField(c, LongType()) for c in ("tile_x", "tile_y", "px", "py", "v")]
    )

    def unpack(batches):
        for pdf in batches:
            rows = {c: [] for c in ("tile_x", "tile_y", "px", "py", "v")}
            for tx, ty, png in zip(pdf["tile_x"], pdf["tile_y"], pdf["png"]):
                _, _, pix = decode_png(bytes(png))
                ys, xs = (pix[:, :, 0] > 0).nonzero()
                for yy, xx in zip(ys, xs):
                    rows["tile_x"].append(int(tx))
                    rows["tile_y"].append(int(ty))
                    rows["px"].append(int(xx))
                    rows["py"].append(int(yy))
                    rows["v"].append(int(pix[yy, xx, 0]))
            yield pd.DataFrame(rows, dtype="int64")

    return tiles.mapInPandas(unpack, schema=out_schema)


def q_tile_pyramid(spark, sf_dir):
    """Tile-count PYRAMID zoom 8..5 from one pass over the data: base
    counts at z8, each parent level the 4-child sum by integer halving of
    child COUNTS (not re-scans). Oracle: per-level group-bys on the same
    tile math — halving in SQL is exact because floor(f*2^z) ==
    floor(floor(f*2^(z+1))/2)."""
    _init(spark)
    from geomesa_spark.operators.density import tile_pyramid

    return tile_pyramid(_docs_pts(spark, sf_dir), zoom_max=8, zoom_min=5).select(
        "tile_z", "tile_x", "tile_y", "n_docs"
    )


def q_density_grid(spark, sf_dir):
    _init(spark)
    d = _docs_pts(spark, sf_dir)
    return density(d, (-180.0, -90.0, 180.0, 90.0), 256, 128).select(
        "i", "j", F.col("weight").cast("double").alias("weight")
    )


def q_density_polygonize(spark, sf_dir):
    """RASTER -> VECTOR: occupied density cells dissolved into maximal
    (multi)polygons; the oracle counts 4-connected cell components with a
    recursive CTE and checks the exact dissolved area (disjoint cell cover:
    area == n_cells x cell_area, binary-exact at 64x32 world grid)."""
    _init(spark)
    from geomesa_spark.geom import algorithms as alg
    from geomesa_spark.operators.density import density, polygonize_density

    d = _docs_pts(spark, sf_dir)
    bbox = (-180.0, -90.0, 180.0, 90.0)
    cells = density(d, bbox, 64, 32)
    g, n_cells = polygonize_density(cells, bbox, 64, 32, threshold=1.0)
    n_polys = len(alg._polygons_of(g))
    return spark.createDataFrame(
        [(n_polys, n_cells, round(alg.area(g), 6))],
        "n_polygons long, n_cells long, area_r6 double",
    )


def q_density_weighted(spark, sf_dir):
    _init(spark)
    d = _docs_pts(spark, sf_dir)  # keeps documents columns incl. n_chars
    return density(
        d, (-180.0, -90.0, 180.0, 90.0), 64, 32,
        weight=F.col("n_chars").cast("double"),
    ).select("i", "j", F.round(F.col("weight"), 6).alias("weight"))


def q_cell_count_z6(spark, sf_dir):
    _init(spark)
    d = _docs_pts(spark, sf_dir)
    d6 = index_points_df(
        _read(spark, sf_dir, "documents")
        .withColumn("lon", F.expr(O.DOC_LON))
        .withColumn("lat", F.expr(O.DOC_LAT)),
        "lon",
        "lat",
        cell_bits=6,
        with_wkb=False,
    )
    return d6.groupBy(F.col("cell").alias("cell6")).agg(F.count("*").alias("n"))


def q_track_length(spark, sf_dir):
    _init(spark)
    e = _events_pts(spark, sf_dir)
    t = processes.track_length(
        e.withColumn("ts", F.col("ts")), "user_id", "ts"
    )
    return t.select("user_id", F.round("track_meters", 3).alias("meters_r3"))


def q_point2point(spark, sf_dir):
    _init(spark)
    e = _events_pts(spark, sf_dir)
    seg = processes.point2point(e, "user_id", "ts")
    return seg.select(
        "user_id",
        F.unix_timestamp("t_start").alias("t0"),
        F.unix_timestamp("t_end").alias("t1"),
        F.round("seg_meters", 3).alias("seg_r3"),
    )


def q_track_label(spark, sf_dir):
    _init(spark)
    e = _read(spark, sf_dir, "events")
    last = processes.track_label(e, "user_id", "ts", tiebreak="event_id")
    return last.select("user_id", "event_id")


def q_sampling_every_nth(spark, sf_dir):
    _init(spark)
    e = _read(spark, sf_dir, "events")
    return processes.sample_every_nth(e, 10, "event_id").select("event_id")


def q_date_offset(spark, sf_dir):
    _init(spark)
    e = processes.date_offset(_read(spark, sf_dir, "events"), "ts", "INTERVAL 1 HOUR")
    return e.select("event_id", F.unix_timestamp("ts").alias("ts_epoch"))


def q_attribute_buckets(spark, sf_dir):
    _init(spark)
    e = _read(spark, sf_dir, "events")
    return (
        e.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(16)))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def q_stats_minmax(spark, sf_dir):
    _init(spark)
    e = _read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


def q_stats_histogram(spark, sf_dir):
    _init(spark)
    e = _read(spark, sf_dir, "events")
    return (
        e.withColumn("bucket", F.floor(F.col("value") / 50.0).cast("long"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def q_stats_topk_users(spark, sf_dir):
    _init(spark)
    from pyspark.sql.window import Window

    e = _read(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count("*").alias("n"))
    # orderBy+limit -> TakeOrderedAndProject (distributed local top-k, driver
    # merge); the rank window then runs over only the 10 surviving rows — a
    # bare global window here would move EVERY group to one partition
    top = counts.orderBy(F.col("n").desc(), F.col("user_id").asc()).limit(10)
    w = Window.orderBy(F.col("n").desc(), F.col("user_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select("user_id", "n", "rank")


def q_unique_values_lang(spark, sf_dir):
    _init(spark)
    return processes.unique_values(_read(spark, sf_dir, "documents"), "lang").select(
        "lang", "count"
    )


def q_tpch_q1ish(spark, sf_dir):
    _init(spark)
    l = _read(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 3).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 3).alias(
            "sum_disc_price"
        ),
        F.count("*").alias("count_order"),
    )


def q_text_quality(spark, sf_dir):
    _init(spark)
    from geomesa_spark.operators.textstats import quality_cols

    d = quality_cols(_read(spark, sf_dir, "documents"))
    return d.select("doc_id", "n_tokens", "stopword_ratio", "punct_ratio")


def q_doc_packing(spark, sf_dir):
    """Token-budget document packing (training-batch sharding): per-language
    sequential fill, pack_id = floor(prefix_tokens / 512). Distributed as a
    two-pass prefix sum (operators/packing.py) — NOT a global window, which
    would serialize each language into one task at 100 TB."""
    _init(spark)
    from geomesa_spark.operators.packing import pack_documents

    d = _read(spark, sf_dir, "documents")
    packed = pack_documents(d, budget_tokens=512)
    return packed.select("doc_id", "lang", "n_tok", "pack_id")


def q_ngram_dedup(spark, sf_dir):
    _init(spark)
    d = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, threshold=0.9, k=3, block_col="lang", canonicalize=True
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r6"))


def q_ann_cosine_topk(spark, sf_dir):
    _init(spark)
    emb = _read(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    return brute_force_topk(emb, qvec, k=20)


# LSH parameters shared by the Spark queries and their DuckDB oracle mirrors;
# hyperplanes are LITERAL sign matrices so bucket math is engine-independent
EMB_DIM = 64
DEDUP_LSH_BITS, DEDUP_LSH_TABLES = 6, 8
DEDUP_COS_THRESHOLD = 0.40  # testdata has no planted near-dups (max cos ~0.51):
# 0.40 keeps the gate non-vacuous (~26 oracle rows at sf0.01)
ANN_LSH_BITS, ANN_LSH_PROBES = 8, 4


def q_embedding_dedup(spark, sf_dir):
    """Embedding near-dup pairs via multi-table random-hyperplane LSH bucket
    join + exact cosine verify — ids-only shuffle, no label all-pairs block.
    The literal hyperplanes make the whole pipeline SQL-mirrorable, so the
    DuckDB oracle checks candidate generation AND verification exactly."""
    _init(spark)
    from geomesa_spark.operators.dedup import embedding_cosine_pairs

    emb = _read(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_pairs(
        emb,
        threshold=DEDUP_COS_THRESHOLD,
        lsh_bits=DEDUP_LSH_BITS,
        tables=DEDUP_LSH_TABLES,
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r6"))


def q_minhash_dedup(spark, sf_dir):
    """MinHash-LSH candidates + EXACT shingle-Jaccard verify at 0.8 (global,
    no blocking). canonicalize=True: exact duplicates collapse to a min-id
    representative BEFORE candidate generation (duplicate-cluster safety —
    a 10^6-identical cluster contributes one doc per bucket, not 10^6); the
    oracle mirrors with a group-by-text canonical CTE."""
    _init(spark)
    d = _read(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.8, verify="exact", canonicalize=True)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r6"))


def q_simhash_dedup(spark, sf_dir):
    """Pigeonhole multi-block simhash pairs (full Hamming<=6 recall); the
    60-bit signatures are md5-derived so DuckDB computes them identically.
    Canonicalized (exact dups pre-collapsed), mirrored in the oracle."""
    _init(spark)
    d = _read(spark, sf_dir, "documents")
    pairs = simhash_pairs(d, max_hamming=6, canonicalize=True)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_dedup_components(spark, sf_dir):
    """Duplicate clusters as CONNECTED COMPONENTS (id -> min-member-id) over
    the simhash Hamming<=3 near-dup graph — the scale-safe output shape for
    large duplicate clusters (O(cluster) rows instead of O(cluster^2) raw
    pairs). Spark side: dedup_components — a driver-side union-find when the
    edge list fits its gather cap (every measured size), else distributed
    min-label propagation; oracle: recursive-CTE transitive closure +
    group-min in DuckDB."""
    _init(spark)
    from geomesa_spark.operators.dedup import dedup_components

    d = _read(spark, sf_dir, "documents")
    pairs = simhash_pairs(d, max_hamming=3, canonicalize=True)
    return dedup_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )


def q_ann_lsh_topk(spark, sf_dir):
    _init(spark)
    emb = _read(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    return ann_topk_lsh(emb, qvec, k=20, bits=ANN_LSH_BITS, probes=ANN_LSH_PROBES)


IVF_CENTROIDS, IVF_NPROBE = 16, 4
ANN_JOIN_K, ANN_JOIN_NPROBE = 5, 4
ANN_JOIN_LSH_BITS, ANN_JOIN_LSH_TABLES = 5, 4


def q_ann_join_lsh_topk(spark, sf_dir):
    """Batch ANN over a query TABLE via multi-table random-hyperplane LSH
    bucket equi-join — the data-independent sibling of ann_join_topk. Ids-
    only candidate join + pair dedupe BEFORE scoring; literal hyperplanes
    make bucket assignment engine-independent, so the oracle recomputes the
    identical buckets for both sides in SQL."""
    _init(spark)
    from geomesa_spark.operators.similarity import ann_join_lsh

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter((F.col("vec_id") % 25) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_join_lsh(
        emb, q, k=ANN_JOIN_K, bits=ANN_JOIN_LSH_BITS, tables=ANN_JOIN_LSH_TABLES
    )


def q_ann_join_topk(spark, sf_dir):
    """BATCH ANN: top-k cosine neighbors for EVERY row of a query table via
    IVF cell equi-join — the embedding analog of knn_join and the shape a
    100 TB retrieval/dedup pipeline actually runs. Corpus rows get one IVF
    cell, query rows explode to their nprobe nearest cells (both one-matmul
    Arrow UDFs against the same literal codebook the oracle holds), ONE
    shuffle equi-join on cell, exact cosine, per-query top-k over the
    candidates only."""
    _init(spark)
    from geomesa_spark.operators.similarity import ann_join, random_codebook

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter((F.col("vec_id") % 25) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    C = random_codebook(EMB_DIM, IVF_CENTROIDS)
    return ann_join(emb, q, k=ANN_JOIN_K, nprobe=ANN_JOIN_NPROBE, centroids=C)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN: one-matmul nearest-centroid assignment against a
    deterministic literal codebook, scan only the nprobe cells nearest the
    query (the inverted-file scale path — partition pruning at scale); the
    oracle recomputes the identical assignment from the same literal
    centroids in SQL."""
    _init(spark)
    from geomesa_spark.operators.similarity import ann_topk_ivf

    emb = _read(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    return ann_topk_ivf(
        emb, qvec, k=20, nprobe=IVF_NPROBE, n_centroids=IVF_CENTROIDS
    )


_ATTR_IDX_CACHE: dict[str, str] = {}


def q_attr_bbox_filter(spark, sf_dir):
    """Tiered attribute index: user_id equality + bbox through the
    attr-bucket partition pruning + (attr, z2) row-group sort layout
    (AttributeIndexKeySpace analog)."""
    _init(spark)
    import hashlib

    from geomesa_spark.sources.attr_index import (
        attr_equality_scan,
        with_z2,
        write_attr_indexed,
    )

    path = _ATTR_IDX_CACHE.get(sf_dir)
    if path is None:
        h = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
        path = f"/tmp/geomesa_attr_idx_{h}"
        e = with_z2(_events_pts(spark, sf_dir))
        write_attr_indexed(e, path, "user_id")
        _ATTR_IDX_CACHE[sf_dir] = path
    bbox = (-90.0, -45.0, 90.0, 45.0)
    return attr_equality_scan(spark, path, "user_id", 7, bbox).select("event_id")


def q_convexhull_by_type(spark, sf_dir):
    """Two-phase distributed hull (map-side partial hulls, then hull of
    hull-vertices) — no single-worker concentration on hot groups."""
    _init(spark)
    from geomesa_spark.functions.library import UDFS, convex_hull_by

    e = _events_pts(spark, sf_dir, parallel=True)
    hulls = convex_hull_by(e, "event_type", geom_col="geom_wkb")
    return hulls.select(
        "event_type", F.round(UDFS["st_area"](F.col("hull")), 6).alias("hull_area_r6")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "spatial_pip_filter": q_spatial_pip_filter,
        "spatial_bbox_temporal": q_spatial_bbox_temporal,
        "spatial_join_pip": q_spatial_join_pip,
        "distance_join": q_distance_join,
        "xz2_extent_query": q_xz2_extent_query,
        "xz3_extent_temporal": q_xz3_extent_temporal,
        "knn_geodesic": q_knn_geodesic,
        "knn_join_table": q_knn_join_table,
        "dwithin_proximity": q_dwithin_proximity,
        "tube_select_corridor": q_tube_select_corridor,
        "route_bearing": q_route_bearing,
        "track_region_hits": q_track_region_hits,
        "tile_assignment_z8": q_tile_assignment_z8,
        "tile_pyramid": q_tile_pyramid,
        "tile_render_png": q_tile_render_png,
        "density_grid": q_density_grid,
        "density_weighted": q_density_weighted,
        "density_polygonize": q_density_polygonize,
        "cell_count_z6": q_cell_count_z6,
        "track_length": q_track_length,
        "point2point": q_point2point,
        "track_label": q_track_label,
        "sampling_every_nth": q_sampling_every_nth,
        "date_offset": q_date_offset,
        "attribute_buckets": q_attribute_buckets,
        "stats_minmax": q_stats_minmax,
        "stats_histogram": q_stats_histogram,
        "stats_topk_users": q_stats_topk_users,
        "unique_values_lang": q_unique_values_lang,
        "tpch_q1ish": q_tpch_q1ish,
        "text_quality": q_text_quality,
        "doc_packing": q_doc_packing,
        "ngram_dedup": q_ngram_dedup,
        "ann_cosine_topk": q_ann_cosine_topk,
        "embedding_dedup": q_embedding_dedup,
        "minhash_dedup": q_minhash_dedup,
        "simhash_dedup": q_simhash_dedup,
        "dedup_components": q_dedup_components,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_join_topk": q_ann_join_topk,
        "ann_join_lsh_topk": q_ann_join_lsh_topk,
        "attr_bbox_filter": q_attr_bbox_filter,
        "convexhull_by_type": q_convexhull_by_type,
        "equals_join_snap": q_equals_join_snap,
    }


# ----------------------------------------------------------------- oracles


def oracle_sql() -> dict[str, str]:
    lon, lat = O.DOC_LON, O.DOC_LAT
    elon, elat = O.EVENT_LON, O.EVENT_LAT
    hav = O.haversine_sql(elon, elat, str(PROX_POINT[0]), str(PROX_POINT[1]))
    knn_parts = []
    for qid, qlon, qlat in KNN_QUERIES:
        h = O.haversine_sql(elon, elat, str(qlon), str(qlat))
        knn_parts.append(
            f"select '{qid}' as query_id, event_id as doc_id, round({h}, 6) as dist_r6, "
            f"row_number() over (order by {h}, event_id) as rn from events"
        )
    knn_sql = (
        "select query_id, doc_id, dist_r6 from ("
        + " union all ".join(f"({p})" for p in knn_parts)
        + ") where rn <= 10"
    )
    kj_h = O.haversine_sql(elon, elat, "q.q_lon", "q.q_lat")
    knn_join_sql = f"""
        with q as (
          select qi, cast((qi * 37) % 120 - 60 as double) as q_lon,
                     cast((qi * 53) % 60 - 30 as double) as q_lat
          from range(0, 24) t(qi)
        ),
        scored as (
          select q.qi, e.event_id as doc_id, {kj_h} as d
          from events e cross join q
        )
        select 'q' || lpad(cast(qi as varchar), 2, '0') as query_id,
               doc_id, round(d, 6) as dist_r6
        from (select *, row_number() over (partition by qi order by d, doc_id) as rn
              from scored)
        where rn <= 3
    """
    return {
        "spatial_pip_filter": f"""
            select doc_id, round({lon}, 6) as lon_r6, round({lat}, 6) as lat_r6
            from documents where {O.raycast_sql(PENTAGON, lon, lat)}
        """,
        "spatial_bbox_temporal": f"""
            select event_id from events
            where {elon} >= -60.0 and {elon} <= 60.0
              and {elat} >= -30.0 and {elat} <= 30.0
              and ts >= timestamp '2024-01-05' and ts < timestamp '2024-01-20'
        """,
        "spatial_join_pip": f"""
            select d.doc_id, p.p_partkey as poly_id
            from documents d join part p
              on p.p_partkey < 200
             and {lon.replace('doc_id', 'd.doc_id')} between ({O.PART_CX.replace('p_partkey','p.p_partkey')}) - ({O.PART_HW.replace('p_partkey','p.p_partkey')})
                                                         and ({O.PART_CX.replace('p_partkey','p.p_partkey')}) + ({O.PART_HW.replace('p_partkey','p.p_partkey')})
             and {lat.replace('doc_id', 'd.doc_id')} between ({O.PART_CY.replace('p_partkey','p.p_partkey')}) - ({O.PART_HH.replace('p_partkey','p.p_partkey')})
                                                         and ({O.PART_CY.replace('p_partkey','p.p_partkey')}) + ({O.PART_HH.replace('p_partkey','p.p_partkey')})
        """,
        "distance_join": f"""
            select d.doc_id, e.event_id,
                   round({O.haversine_sql(lon.replace('doc_id', 'd.doc_id'), lat.replace('doc_id', 'd.doc_id'), elon.replace('event_id', 'e.event_id'), elat.replace('event_id', 'e.event_id'))}, 6) as dist_r6
            from documents d, events e
            where {O.haversine_sql(lon.replace('doc_id', 'd.doc_id'), lat.replace('doc_id', 'd.doc_id'), elon.replace('event_id', 'e.event_id'), elat.replace('event_id', 'e.event_id'))} <= 100000.0
        """,
        "xz2_extent_query": f"""
            select p_partkey as poly_id from part
            where p_partkey < 200
              and ({O.PART_CX}) - ({O.PART_HW}) <= 10.0 and ({O.PART_CX}) + ({O.PART_HW}) >= -40.0
              and ({O.PART_CY}) - ({O.PART_HH}) <= 25.0 and ({O.PART_CY}) + ({O.PART_HH}) >= -20.0
        """,
        "xz3_extent_temporal": f"""
            select p_partkey as poly_id from part
            where p_partkey < 200
              and ({O.PART_CX}) - ({O.PART_HW}) <= {XZ3_BBOX[2]!r} and ({O.PART_CX}) + ({O.PART_HW}) >= {XZ3_BBOX[0]!r}
              and ({O.PART_CY}) - ({O.PART_HH}) <= {XZ3_BBOX[3]!r} and ({O.PART_CY}) + ({O.PART_HH}) >= {XZ3_BBOX[1]!r}
              and {XZ3_TS} >= {int(pd.Timestamp(XZ3_INTERVAL[0]).timestamp())}
              and {XZ3_TS} < {int(pd.Timestamp(XZ3_INTERVAL[1]).timestamp())}
        """,
        "knn_geodesic": knn_sql,
        "knn_join_table": knn_join_sql,
        "dwithin_proximity": f"""
            select event_id, round({hav}, 6) as dist_r6
            from events where {hav} <= 500000.0
        """,
        "tube_select_corridor": _tube_select_oracle(),
        "route_bearing": _route_bearing_oracle(),
        "track_region_hits": _track_region_oracle(),
        "tile_assignment_z8": f"""
            select {O.tile_x_sql(lon, 8)} as tile_x, {O.tile_y_sql(lat, 8)} as tile_y,
                   count(*) as n_docs
            from documents group by 1, 2
        """,
        "tile_pyramid": f"""
            with base as (
              select {O.tile_x_sql(lon, 8)} as tile_x, {O.tile_y_sql(lat, 8)} as tile_y,
                     count(*) as n_docs
              from documents group by 1, 2
            )
            select cast(8 as bigint) as tile_z, tile_x, tile_y, n_docs from base
            union all
            select 7, tile_x // 2, tile_y // 2, cast(sum(n_docs) as bigint) from base group by 2, 3
            union all
            select 6, tile_x // 4, tile_y // 4, cast(sum(n_docs) as bigint) from base group by 2, 3
            union all
            select 5, tile_x // 8, tile_y // 8, cast(sum(n_docs) as bigint) from base group by 2, 3
        """,
        "tile_render_png": f"""
            with px as (
              select {O.tile_x_sql(lon, 7)} as gx, {O.tile_y_sql(lat, 7)} as gy
              from documents
            )
            select gx // 16 as tile_x, gy // 16 as tile_y,
                   gx % 16 as px, gy % 16 as py,
                   cast(least(count(*), 255) as bigint) as v
            from px group by 1, 2, 3, 4
        """,
        "density_grid": f"""
            select {O.grid_i_sql(lon, -180.0, 180.0, 256)} as i,
                   {O.grid_i_sql(lat, -90.0, 90.0, 128)} as j,
                   cast(count(*) as double) as weight
            from documents where {lon} between -180.0 and 180.0
              and {lat} between -90.0 and 90.0
            group by 1, 2
        """,
        "density_polygonize": f"""
            with recursive cells as (
              select {O.grid_i_sql(lon, -180.0, 180.0, 64)} as i,
                     {O.grid_i_sql(lat, -90.0, 90.0, 32)} as j,
                     count(*) as w
              from documents where {lon} between -180.0 and 180.0
                and {lat} between -90.0 and 90.0
              group by 1, 2
            ),
            sel as (select i, j, i * 100000 + j as cid from cells where w >= 1),
            e as (
              select a.cid as src, b.cid as dst from sel a join sel b
              on abs(a.i - b.i) + abs(a.j - b.j) = 1
            ),
            reach (cid, lab) as (
              select cid, cid from sel
              union
              select e.src, r.lab from e join reach r on r.cid = e.dst
            ),
            comp as (select cid, min(lab) as c from reach group by cid)
            select cast(count(distinct c) as bigint) as n_polygons,
                   cast((select count(*) from sel) as bigint) as n_cells,
                   round((select count(*) from sel) * 5.625e0 * 5.625e0, 6) as area_r6
            from comp
        """,
        "density_weighted": f"""
            select {O.grid_i_sql(lon, -180.0, 180.0, 64)} as i,
                   {O.grid_i_sql(lat, -90.0, 90.0, 32)} as j,
                   round(sum(cast(n_chars as double)), 6) as weight
            from documents where {lon} between -180.0 and 180.0
              and {lat} between -90.0 and 90.0
            group by 1, 2
        """,
        "cell_count_z6": f"""
            select {O.cell_sql(lon, lat, 6)} as cell6, count(*) as n
            from documents group by 1
        """,
        "track_length": f"""
            with pts as (
              select user_id, ts, {elon} as lon, {elat} as lat,
                     lead({elon}) over w as lon2, lead({elat}) over w as lat2
              from events window w as (partition by user_id order by ts, event_id)
            )
            select user_id,
                   round(sum({O.haversine_sql('lon', 'lat', 'lon2', 'lat2')}), 3) as meters_r3
            from pts where lon2 is not null group by user_id
        """,
        "point2point": f"""
            with pts as (
              select user_id, ts, {elon} as lon, {elat} as lat,
                     lead(ts) over w as ts2,
                     lead({elon}) over w as lon2, lead({elat}) over w as lat2
              from events window w as (partition by user_id order by ts, event_id)
            )
            select user_id,
                   cast(floor(epoch(ts)) as bigint) as t0,
                   cast(floor(epoch(ts2)) as bigint) as t1,
                   round({O.haversine_sql('lon', 'lat', 'lon2', 'lat2')}, 3) as seg_r3
            from pts where lon2 is not null
        """,
        "track_label": """
            select user_id, event_id from (
              select user_id, event_id,
                     row_number() over (partition by user_id order by ts desc, event_id desc) as rn
              from events
            ) where rn = 1
        """,
        "sampling_every_nth": "select event_id from events where event_id % 10 = 0",
        "date_offset": """
            select event_id,
                   cast(floor(epoch(ts + interval 1 hour)) as bigint) as ts_epoch
            from events
        """,
        "attribute_buckets": """
            select user_id % 16 as bucket, count(*) as n from events group by 1
        """,
        "stats_minmax": """
            select event_type, count(*) as cnt, round(min(value), 6) as vmin,
                   round(max(value), 6) as vmax
            from events group by event_type
        """,
        "stats_histogram": """
            select cast(floor(value / 50.0) as bigint) as bucket, count(*) as n
            from events group by 1
        """,
        "stats_topk_users": """
            select user_id, n, rank from (
              select user_id, count(*) as n,
                     row_number() over (order by count(*) desc, user_id asc) as rank
              from events group by user_id
            ) where rank <= 10
        """,
        "unique_values_lang": "select lang, count(*) as count from documents group by lang",
        "tpch_q1ish": """
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 3) as sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 3) as sum_disc_price,
                   count(*) as count_order
            from lineitem group by l_returnflag, l_linestatus
        """,
        "doc_packing": """
            select doc_id, lang,
                   cast(len(string_split(lower(text), ' ')) as bigint) as n_tok,
                   cast(coalesce(sum(len(string_split(lower(text), ' '))) over (
                            partition by lang order by doc_id
                            rows between unbounded preceding and 1 preceding
                        ), 0) // 512 as bigint) as pack_id
            from documents
        """,
        "text_quality": """
            select doc_id,
                   len(string_split(lower(text), ' ')) as n_tokens,
                   round(len(list_filter(string_split(lower(text), ' '),
                         t -> t in ('the','a','of','and','to','in','is','it','for','on')))
                         * 1.0 / greatest(len(string_split(lower(text), ' ')), 1), 6) as stopword_ratio,
                   round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                         * 1.0 / greatest(length(text), 1), 6) as punct_ratio
            from documents
        """,
        "ngram_dedup": """
            with canon as (
              select min(doc_id) as doc_id, arg_min(lang, doc_id) as lang, text
              from documents group by text
            ),
            sh as (
              select doc_id, lang,
                     list_distinct([substr(lower(text), i, 3)
                                    for i in range(1, greatest(length(text)-1, 2))]) as s
              from canon
            )
            select a.doc_id as id_a, b.doc_id as id_b,
                   round(len(list_intersect(a.s, b.s)) * 1.0 /
                         len(list_distinct(list_concat(a.s, b.s))), 6) as jaccard_r6
            from sh a join sh b on a.lang = b.lang and a.doc_id < b.doc_id
            where len(list_intersect(a.s, b.s)) * 1.0 /
                  len(list_distinct(list_concat(a.s, b.s))) >= 0.9
        """,
        "ann_cosine_topk": """
            with q as (select embedding as qe from embeddings where vec_id = 0),
            scored as (
              select vec_id,
                     round(
                       list_sum([cast(e.embedding[i] as double) * cast(q.qe[i] as double)
                                 for i in range(1, len(e.embedding)+1)]) /
                       (sqrt(list_sum([cast(e.embedding[i] as double) * cast(e.embedding[i] as double)
                                 for i in range(1, len(e.embedding)+1)])) *
                        sqrt(list_sum([cast(q.qe[i] as double) * cast(q.qe[i] as double)
                                 for i in range(1, len(q.qe)+1)])))
                     , 6) as score
              from embeddings e, q
            )
            select vec_id, score, rank from (
              select vec_id, score,
                     row_number() over (order by score desc, vec_id asc) as rank
              from scored
            ) where rank <= 20
        """,
        "attr_bbox_filter": f"""
            select event_id from events
            where user_id = 7
              and {elon} between -9e1 and 9e1
              and {elat} between -4.5e1 and 4.5e1
        """,
        "equals_join_snap": f"""
            with d as (
              select doc_id,
                     floor(({O.DOC_LON}) / 2e0) * 2e0 as sx,
                     floor(({O.DOC_LAT}) / 2e0) * 2e0 as sy
              from documents
            ),
            e as (
              select event_id,
                     floor(({O.EVENT_LON}) / 2e0) * 2e0 as sx,
                     floor(({O.EVENT_LAT}) / 2e0) * 2e0 as sy
              from events
            )
            select d.doc_id, e.event_id
            from d join e on d.sx = e.sx and d.sy = e.sy
        """,
        "embedding_dedup": _embedding_dedup_oracle(),
        "minhash_dedup": _minhash_dedup_oracle(),
        "simhash_dedup": _simhash_dedup_oracle(),
        "dedup_components": _dedup_components_oracle(),
        "ann_lsh_topk": _ann_lsh_oracle(),
        "ann_ivf_topk": _ann_ivf_oracle(),
        "ann_join_topk": _ann_join_oracle(),
        "ann_join_lsh_topk": _ann_join_lsh_oracle(),
        "convexhull_by_type": _convexhull_oracle(),
    }


def _tube_select_oracle() -> str:
    """TubeSelect corridor: OR over track vertices of (haversine disc AND
    time window). Mirrors processes.tube_select exactly — Spark's
    unix_timestamp truncates to whole seconds, hence floor(epoch(ts))."""
    elon, elat = O.EVENT_LON, O.EVENT_LAT
    conds = []
    for lon, lat, iso in TUBE_TRACK:
        h = O.haversine_sql(elon, elat, repr(lon), repr(lat))
        conds.append(
            f"({h} <= {TUBE_METERS!r} and "
            f"abs(cast(floor(epoch(ts)) as bigint) - epoch(timestamp '{iso}'))"
            f" <= {TUBE_WINDOW_S!r})"
        )
    return "select event_id from events where " + " or ".join(conds)


def _track_region_oracle() -> str:
    """Exact Liang-Barsky closed-segment vs closed-rect clipping in pure
    SQL: per axis the parameter interval is [min,max] of the two edge
    params (or a 0-width sentinel forcing miss when a parallel segment lies
    outside the slab); the segment intersects iff the [0,1]-clamped
    intervals overlap. Coordinates derive from the same integer-modulo
    expressions as the Spark side, so both engines clip identical doubles."""

    def t_lo(a, d, lo, hi):
        return (
            f"CASE WHEN {d} = 0e0 THEN "
            f"CASE WHEN {a} BETWEEN {lo} AND {hi} THEN 0e0 ELSE 2e0 END "
            f"ELSE least(({lo} - {a}) / {d}, ({hi} - {a}) / {d}) END"
        )

    def t_hi(a, d, lo, hi):
        return (
            f"CASE WHEN {d} = 0e0 THEN "
            f"CASE WHEN {a} BETWEEN {lo} AND {hi} THEN 1e0 ELSE -1e0 END "
            f"ELSE greatest(({lo} - {a}) / {d}, ({hi} - {a}) / {d}) END"
        )

    enter = (
        f"greatest(0e0, {t_lo('ax', '(bx - ax)', 'x0', 'x1')}, "
        f"{t_lo('ay', '(by - ay)', 'y0', 'y1')})"
    )
    exit_ = (
        f"least(1e0, {t_hi('ax', '(bx - ax)', 'x0', 'x1')}, "
        f"{t_hi('ay', '(by - ay)', 'y0', 'y1')})"
    )
    return f"""
        with seg as (
          select event_id as seg_id,
                 {SEG_AX} as ax, {SEG_AY} as ay,
                 ({SEG_AX}) + ({SEG_DX}) as bx,
                 ({SEG_AY}) + ({SEG_DY}) as by
          from events
        ),
        r as (
          select p_partkey as poly_id,
                 ({O.PART_CX}) - ({O.PART_HW}) as x0,
                 ({O.PART_CX}) + ({O.PART_HW}) as x1,
                 ({O.PART_CY}) - ({O.PART_HH}) as y0,
                 ({O.PART_CY}) + ({O.PART_HH}) as y1
          from part where p_partkey < 200
        )
        select seg.seg_id, r.poly_id
        from seg, r
        where {enter} <= {exit_}
    """


def _route_bearing_oracle() -> str:
    """RouteSearch with bearing gate: OR over segments of (haversine disc
    around the midpoint with radius meters + seg_len/2 AND heading within
    tolerance of the segment bearing). Radius and bearing are python-
    computed full-precision literals shared with the Spark side; the
    fmod(fmod(x,360)+360,360) chain is DuckDB's pmod."""
    import math as _math

    from geomesa_spark.geom.algorithms import haversine as _hav

    conds = []
    for (x1, y1), (x2, y2) in zip(ROUTE_PTS[:-1], ROUTE_PTS[1:]):
        mx, my = (x1 + x2) / 2, (y1 + y2) / 2
        radius = ROUTE_METERS + float(_hav(x1, y1, x2, y2)) / 2
        bearing = _math.degrees(_math.atan2(x2 - x1, y2 - y1)) % 360
        h = O.haversine_sql(O.EVENT_LON, O.EVENT_LAT, repr(mx), repr(my))
        diff = (
            f"abs(fmod(fmod({HEADING_SQL} - {bearing!r} + 1.8e2, 3.6e2)"
            f" + 3.6e2, 3.6e2) - 1.8e2)"
        )
        conds.append(f"({h} <= {radius!r} and {diff} <= {ROUTE_TOL_DEG!r})")
    return "select event_id from events where " + " or ".join(conds)


def _convexhull_oracle() -> str:
    """Quickhull as a recursive CTE: start from the two extreme-point directed
    edges, split each edge at its farthest strictly-left point, stop when no
    point is left of any edge; hull area is the shoelace sum over the final
    (clockwise) edge cycle. Independent of the engine's monotone-chain hull —
    collinear/tie choices differ, the area cannot."""
    elon, elat = O.EVENT_LON, O.EVENT_LAT
    cross = "(h.x2-h.x1)*(p.y-h.y1)-(h.y2-h.y1)*(p.x-h.x1)"
    return f"""
        with recursive pts as (
          select event_type, {elon} as x, {elat} as y from events
        ),
        mn as (select event_type, x, y from (
          select event_type, x, y, row_number() over (partition by event_type order by x, y) rn from pts) where rn = 1),
        mx as (select event_type, x, y from (
          select event_type, x, y, row_number() over (partition by event_type order by x desc, y desc) rn from pts) where rn = 1),
        hull(event_type, x1, y1, x2, y2) as (
          (
            select mn.event_type, mn.x, mn.y, mx.x, mx.y from mn join mx using (event_type)
            union all
            select mn.event_type, mx.x, mx.y, mn.x, mn.y from mn join mx using (event_type)
          )
          union all
          select s.event_type,
                 case when w.i = 0 then s.x1 else s.f.fx end,
                 case when w.i = 0 then s.y1 else s.f.fy end,
                 case when w.i = 0 then s.f.fx else s.x2 end,
                 case when w.i = 0 then s.f.fy else s.y2 end
          from (
            select h.event_type, h.x1, h.y1, h.x2, h.y2,
                   arg_max(struct_pack(fx := p.x, fy := p.y), {cross}) as f
            from hull h join pts p on p.event_type = h.event_type
             and {cross} > 1e-12
            group by h.event_type, h.x1, h.y1, h.x2, h.y2
          ) s cross join (values (0), (1)) w(i)
        )
        select event_type, round(abs(sum(x1*y2 - x2*y1)) / 2, 6) as hull_area_r6
        from (
          select distinct h.event_type, h.x1, h.y1, h.x2, h.y2
          from hull h
          where not exists (
            select 1 from pts p
            where p.event_type = h.event_type
              and {cross} > 1e-12
          )
        ) group by event_type
    """


def _dedup_signs():
    from geomesa_spark.operators.similarity import hyperplane_signs

    return hyperplane_signs(EMB_DIM, DEDUP_LSH_BITS, DEDUP_LSH_TABLES, seed=42)


def _ann_signs():
    from geomesa_spark.operators.similarity import hyperplane_signs

    return hyperplane_signs(EMB_DIM, ANN_LSH_BITS, tables=1, seed=42)[0]


def _embedding_dedup_oracle() -> str:
    """Mirror of q_embedding_dedup: the SAME literal hyperplane buckets
    (candidates = equal bucket in >= 1 table) + exact cosine verify."""
    signs = _dedup_signs()
    bucket_cols = ",\n                   ".join(
        f"{O.rp_bucket_sql('embedding', signs[t])} as b{t}"
        for t in range(DEDUP_LSH_TABLES)
    )
    same_bucket = " or ".join(f"a.b{t} = b.b{t}" for t in range(DEDUP_LSH_TABLES))
    cos = O.cosine_sql("a.embedding", "b.embedding")
    return f"""
        with bk as (
            select vec_id, embedding,
                   {bucket_cols}
            from embeddings
        )
        select a.vec_id as id_a, b.vec_id as id_b, round({cos}, 6) as cosine_r6
        from bk a join bk b on a.vec_id < b.vec_id and ({same_bucket})
        where {cos} >= {DEDUP_COS_THRESHOLD}
    """


CANON_CTE = "select min(doc_id) as doc_id, text from documents group by text"


def _minhash_dedup_oracle() -> str:
    """Exact GLOBAL all-pairs shingle Jaccard >= 0.8 over CANONICAL docs
    (exact duplicates pre-collapsed to the min-id representative, mirroring
    canonicalize=True) — the full-recall truth set the LSH candidates must
    reproduce (miss prob < 2e-18/pair at 0.8+)."""
    jac = "len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s)))"
    return f"""
        with canon as ({CANON_CTE}),
        sh as ({O.jaccard_shingles_sql('canon')})
        select a.doc_id as id_a, b.doc_id as id_b, round({jac}, 6) as jaccard_r6
        from sh a join sh b on a.doc_id < b.doc_id
        where {jac} >= 0.8
    """


def _simhash_sig_ctes(max_hamming: int) -> str:
    """Shared canonical-docs + signature CTE prefix for the simhash oracles."""
    return f"""
        canon as ({CANON_CTE}),
        th as (select doc_id, {O.token_hashes_sql('text')} as hs from canon),
        sig as (select doc_id, {O.simhash_from_hashes_sql('hs')} as sg from th),
        pairs as (
          select a.doc_id as id_a, b.doc_id as id_b,
                 cast(bit_count(xor(a.sg, b.sg)) as bigint) as hamming
          from sig a join sig b on a.doc_id < b.doc_id
          where bit_count(xor(a.sg, b.sg)) <= {max_hamming}
        )"""


def _simhash_dedup_oracle() -> str:
    """Recomputes the md5-derived 60-bit simhash signatures in DuckDB over
    canonical docs and takes exact all-pairs Hamming <= 6 — full truth set
    for the pigeonhole multi-block candidates."""
    return f"""
        with {_simhash_sig_ctes(6)}
        select id_a, id_b, hamming from pairs
    """


def _dedup_components_oracle() -> str:
    """Connected components of the Hamming<=3 simhash graph: recursive-CTE
    transitive closure (edges both directions + identity) then min reachable
    id per node — engine-independent truth for the Spark min-label
    propagation loop."""
    return f"""
        with recursive {_simhash_sig_ctes(3)},
        edges as (
          select id_a as src, id_b as dst from pairs
          union all
          select id_b as src, id_a as dst from pairs
        ),
        nodes as (select distinct src as id from edges),
        reach (id, lab) as (
          select id, id from nodes
          union
          select e.src, r.lab from edges e join reach r on r.id = e.dst
        )
        select id as doc_id, min(lab) as component from reach group by id
    """


def _ann_ivf_oracle() -> str:
    """Mirror of q_ann_ivf_topk: the SAME literal codebook, the same rounded
    dot-product assignment (first-max tie rule), the same (d desc, i asc)
    probe ranking, exact cosine top-k within the probed cells."""
    from geomesa_spark.operators.similarity import random_codebook

    C = random_codebook(EMB_DIM, IVF_CENTROIDS)
    cd_rows = " union all ".join(
        f"select {i} as i, round({O.lit_dot_sql('q.qe', c)}, 9) as d from q"
        for i, c in enumerate(C)
    )
    assign = O.ivf_assign_sql("e.embedding", C)
    cos = O.cosine_sql("c.embedding", "q.qe")
    return f"""
        with q as (select embedding as qe from embeddings where vec_id = 0),
        cd as ({cd_rows}),
        probe as (
          select i from (
            select i, row_number() over (order by d desc, i asc) as rn from cd
          ) where rn <= {IVF_NPROBE}
        ),
        cand as (
          select e.vec_id, e.embedding from embeddings e
          where {assign} in (select i from probe)
        ),
        scored as (select c.vec_id, round({cos}, 6) as score from cand c, q)
        select vec_id, score, rank from (
            select vec_id, score,
                   row_number() over (order by score desc, vec_id asc) as rank
            from scored
        ) where rank <= 20
    """


def _ann_join_oracle() -> str:
    """Mirror of q_ann_join_topk: the same literal codebook assigns every
    corpus row its cell (round-9 first-max rule) and ranks each query's
    probe cells ((d desc, i asc) per query), cell equi-join, exact cosine,
    per-query top-k."""
    from geomesa_spark.operators.similarity import random_codebook

    C = random_codebook(EMB_DIM, IVF_CENTROIDS)
    cd_rows = " union all ".join(
        f"select q.query_id, {i} as i, round({O.lit_dot_sql('q.qe', c)}, 9) as d from q"
        for i, c in enumerate(C)
    )
    assign = O.ivf_assign_sql("e.embedding", C)
    cos = O.cosine_sql("a.embedding", "q.qe")
    return f"""
        with q as (
          select vec_id as query_id, embedding as qe
          from embeddings where vec_id % 25 = 0
        ),
        cd as ({cd_rows}),
        probe as (
          select query_id, i from (
            select query_id, i,
                   row_number() over (partition by query_id order by d desc, i asc) as rn
            from cd
          ) where rn <= {ANN_JOIN_NPROBE}
        ),
        asg as (select e.vec_id, e.embedding, {assign} as cell from embeddings e),
        scored as (
          select p.query_id, a.vec_id, round({cos}, 6) as score
          from probe p
          join asg a on a.cell = p.i
          join q on q.query_id = p.query_id
        )
        select query_id, vec_id, score, rank from (
            select query_id, vec_id, score,
                   row_number() over (partition by query_id order by score desc, vec_id asc) as rank
            from scored
        ) where rank <= {ANN_JOIN_K}
    """


def _ann_join_lsh_oracle() -> str:
    """Mirror of q_ann_join_lsh_topk: the same literal sign matrices bucket
    BOTH sides per table, distinct pair join, exact cosine, per-query
    top-k."""
    from geomesa_spark.operators.similarity import hyperplane_signs

    signs = hyperplane_signs(
        EMB_DIM, ANN_JOIN_LSH_BITS, tables=ANN_JOIN_LSH_TABLES, seed=42
    )
    bk_arms = " union all ".join(
        f"select vec_id, {O.rp_bucket_sql('embedding', signs[t])} as bkt, {t} as t "
        f"from embeddings"
        for t in range(ANN_JOIN_LSH_TABLES)
    )
    qb_arms = " union all ".join(
        f"select query_id, {O.rp_bucket_sql('qe', signs[t])} as bkt, {t} as t from q"
        for t in range(ANN_JOIN_LSH_TABLES)
    )
    cos = O.cosine_sql("e.embedding", "q.qe")
    return f"""
        with q as (
          select vec_id as query_id, embedding as qe
          from embeddings where vec_id % 25 = 0
        ),
        bk as ({bk_arms}),
        qb as ({qb_arms}),
        cand as (
          select distinct qb.query_id, bk.vec_id
          from qb join bk on qb.t = bk.t and qb.bkt = bk.bkt
        ),
        scored as (
          select c.query_id, c.vec_id, round({cos}, 6) as score
          from cand c
          join embeddings e on e.vec_id = c.vec_id
          join q on q.query_id = c.query_id
        )
        select query_id, vec_id, score, rank from (
            select query_id, vec_id, score,
                   row_number() over (partition by query_id order by score desc, vec_id asc) as rank
            from scored
        ) where rank <= {ANN_JOIN_K}
    """


def _ann_lsh_oracle() -> str:
    """Mirror of q_ann_lsh_topk: same literal-hyperplane bucket, same
    single-bit-flip probe set, exact cosine top-k within the probed buckets."""
    signs = _ann_signs()
    bkt = O.rp_bucket_sql("embedding", signs)
    qbkt = O.rp_bucket_sql("qe", signs)
    probe = " or ".join(
        ["b.bkt = qb.qbkt"]
        + [f"b.bkt = xor(qb.qbkt, {1 << i})" for i in range(ANN_LSH_PROBES)]
    )
    cos = O.cosine_sql("c.embedding", "q.qe")
    return f"""
        with q as (select embedding as qe from embeddings where vec_id = 0),
        bk as (select vec_id, embedding, {bkt} as bkt from embeddings),
        qb as (select {qbkt} as qbkt from q),
        cand as (select b.vec_id, b.embedding from bk b, qb where {probe}),
        scored as (select c.vec_id, round({cos}, 6) as score from cand c, q)
        select vec_id, score, rank from (
            select vec_id, score,
                   row_number() over (order by score desc, vec_id asc) as rank
            from scored
        ) where rank <= 20
    """

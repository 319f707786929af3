"""k-nearest-neighbors search: expanding-radius geodesic kNN.

Reference semantics (geomesa-process/.../KNearestNeighborSearchProcess.scala:39-260):
for each query point start from an estimated radius, scan the bbox window,
keep the k best by geodesic distance, expand the window until k found or
maxSearchDistance reached.

Spark-first plan: query points are broadcast (they are few); each round
  1. builds per-query lon/lat windows for the current radius,
  2. joins docs via a codegen'd bbox condition on the indexed x/y columns
     (+ coarse cell IN pruning),
  3. computes geodesic distance as a pure Column expression (haversine via
     built-in trig -> whole-stage codegen, no Python),
  4. row_number() over (partition by query order by distance) keeps k,
  5. ONE collect brings those rows to the driver: queries with k rows
     (all within the round radius, so no farther point can displace them)
     are DONE and their rows kept; the rest quadruple the radius.
The result is built from the kept rows — one collect per round, no
checkpoint and no union lineage.
"""

from __future__ import annotations

import math
from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, StringType, StructField, StructType
from pyspark.sql.window import Window

from ..geom.algorithms import EARTH_MEAN_RADIUS_M
from ..plans.planner import _cover_cells
from ..sources.docs import MULTI_CELL, PARTITION_CELL_BITS


def haversine_col(lon1, lat1, lon2, lat2):
    """Great-circle meters as a pure Column expression (codegen'd)."""
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    h = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    return 2 * F.lit(EARTH_MEAN_RADIUS_M) * F.asin(F.least(F.lit(1.0), F.sqrt(h)))


def disc_window_deg(lat: float, radius_m: float) -> tuple[float, float]:
    """(dlat, dlon) half-widths in degrees of the lon/lat bounding box of a
    geodesic disc of `radius_m` centered at latitude `lat`. dlat is the
    angular radius. dlon is the EXACT bound asin(sin(r)/cos(lat)) — the
    naive dlat/cos(lat) under-covers the disc away from the equator (the
    disc's widest longitude span is NOT at the center latitude) — and the
    full 180 whenever the disc touches a pole (there every longitude holds
    candidates). sin(r)/cos(lat) > 1 iff |lat|+dlat > 90, so the clamp and
    the pole branch agree at the boundary."""
    r = radius_m / EARTH_MEAN_RADIUS_M
    dlat = math.degrees(r)
    if abs(lat) + dlat >= 90.0:
        return dlat, 180.0
    dlon = math.degrees(
        math.asin(min(1.0, math.sin(r) / math.cos(math.radians(lat))))
    )
    return dlat, dlon


def _query_windows(queries: list[tuple], radius_m: float):
    """(qid, lon, lat) -> list of bbox windows (antimeridian-split)."""
    out = []
    for qid, lon, lat in queries:
        dlat, dlon = disc_window_deg(lat, radius_m)
        y0, y1 = max(-90.0, lat - dlat), min(90.0, lat + dlat)
        x0, x1 = lon - dlon, lon + dlon
        if x0 < -180.0:
            out.append((qid, (-180.0, y0, x1, y1)))
            out.append((qid, (x0 + 360.0, y0, 180.0, y1)))
        elif x1 > 180.0:
            out.append((qid, (x0, y0, 180.0, y1)))
            out.append((qid, (-180.0, y0, x1 - 360.0, y1)))
        else:
            out.append((qid, (x0, y0, x1, y1)))
    return out


def knn_join(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    start_radius_m: float = 1_000.0,
    max_radius_m: float = 1_000_000.0,
    query_id: str = "query_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    cell_bits: int = PARTITION_CELL_BITS,
) -> DataFrame:
    """DataFrame-native kNN for LARGE query tables — the cell-ring join
    formulation. Use this when queries is a TABLE (10^4..10^8 points); the
    process-style knn() below holds the query list in driver memory and is
    meant for the reference's process semantics (hundreds of points).

    Each round r (radius = start * 4^r, ceil(log4(max/start)) rounds total,
    independent of query count):
      1. every pending query row derives its lon/lat window as Columns
         (antimeridian-split via explode),
      2. explodes to the coarse grid cells covering the window and
         EQUI-JOINS docs on cell (+ a MULTI_CELL row per window so
         multi-cell extents are never pruned) — a plain shuffle join, no
         broadcast of the query side needed,
      3. bbox + geodesic-distance filter, per-query top-k window,
      4. queries whose k-th best is within the round radius are done; the
         rest carry to the next round via DataFrame anti-join.
    All per-query state lives in DataFrames — nothing scales with the query
    count on the driver."""
    from ..index.zorder import WORLD
    from ..sources.docs import interleave2_col

    spark: SparkSession = docs.sparkSession
    pending = queries.select(
        F.col(query_id).cast("string").alias("query_id"),
        F.col(q_lon).cast("double").alias("q_lon"),
        F.col(q_lat).cast("double").alias("q_lat"),
    ).localCheckpoint(eager=False)

    n = 2**cell_bits
    sx = n / (WORLD[2] - WORLD[0])
    sy = n / (WORLD[3] - WORLD[1])

    def _win_struct(x0, y0, x1, y1):
        return F.struct(
            x0.alias("w_minx"), y0.alias("w_miny"),
            x1.alias("w_maxx"), y1.alias("w_maxy"),
        )

    def _windows_col(radius: float):
        """1-2 antimeridian-split windows per query as an array Column.
        Column mirror of disc_window_deg: dlon is the exact disc bound
        asin(sin(r)/cos(lat)), widened to the full ±180 when the disc
        touches a pole — dlat/cos(lat) under-covers away from the equator
        and misses trans-polar neighbors entirely."""
        r_ang = radius / EARTH_MEAN_RADIUS_M
        dlat = F.lit(math.degrees(r_ang))
        coslat = F.cos(F.radians(F.col("q_lat")))
        dlon = F.when(
            F.abs(F.col("q_lat")) + dlat >= F.lit(90.0), F.lit(180.0)
        ).otherwise(
            F.degrees(
                F.asin(F.least(F.lit(1.0), F.lit(math.sin(r_ang)) / coslat))
            )
        )
        y0 = F.greatest(F.lit(-90.0), F.col("q_lat") - dlat)
        y1 = F.least(F.lit(90.0), F.col("q_lat") + dlat)
        x0 = F.col("q_lon") - dlon
        x1 = F.col("q_lon") + dlon
        return (
            F.when(
                x0 < -180.0,
                F.array(
                    _win_struct(F.lit(-180.0), y0, x1, y1),
                    _win_struct(x0 + 360.0, y0, F.lit(180.0), y1),
                ),
            )
            .when(
                x1 > 180.0,
                F.array(
                    _win_struct(x0, y0, F.lit(180.0), y1),
                    _win_struct(F.lit(-180.0), y0, x1 - 360.0, y1),
                ),
            )
            .otherwise(F.array(_win_struct(x0, y0, x1, y1)))
        )

    def _cells_col():
        """Interleaved coarse cells covering the window (Column math)."""
        def idx(c, lo, s):
            return F.greatest(
                F.lit(0), F.least(F.floor((c - F.lit(lo)) * F.lit(s)), F.lit(n - 1))
            ).cast("long")

        ix0, ix1 = idx(F.col("w_minx"), WORLD[0], sx), idx(F.col("w_maxx"), WORLD[0], sx)
        iy0, iy1 = idx(F.col("w_miny"), WORLD[1], sy), idx(F.col("w_maxy"), WORLD[1], sy)
        return F.flatten(
            F.transform(
                F.sequence(ix0, ix1),
                lambda ix: F.transform(
                    F.sequence(iy0, iy1),
                    lambda iy: interleave2_col(ix, iy, cell_bits),
                ),
            )
        )

    results = None
    radius = start_radius_m
    rounds = 0
    while True:
        rounds += 1
        win = pending.withColumn("_w", F.explode(_windows_col(radius))).select(
            "query_id", "q_lon", "q_lat", "_w.*"
        )
        qcells = win.withColumn("qcell", F.explode(_cells_col())).unionByName(
            win.withColumn("qcell", F.lit(MULTI_CELL))
        )
        cand = docs.join(qcells, docs["cell"] == qcells["qcell"]).filter(
            (F.col("x") >= F.col("w_minx"))
            & (F.col("x") <= F.col("w_maxx"))
            & (F.col("y") >= F.col("w_miny"))
            & (F.col("y") <= F.col("w_maxy"))
        )
        cand = (
            cand.withColumn(
                "dist_m",
                haversine_col(F.col("x"), F.col("y"), F.col("q_lon"), F.col("q_lat")),
            )
            .filter(F.col("dist_m") <= F.lit(min(radius, max_radius_m)))
            # a doc can reach one query through both split windows of a huge
            # radius (or via MULTI_CELL + a covered cell after a retry round)
            .dropDuplicates(["query_id", "doc_id"])
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("dist_m").asc(), F.col("doc_id").asc()
        )
        topk = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("w_minx", "w_miny", "w_maxx", "w_maxy", "q_lon", "q_lat", "qcell")
            .localCheckpoint(eager=False)
        )
        # done with k rows (all within the round radius, so no farther doc
        # can displace them) or once the search space is exhausted
        if radius >= max_radius_m:
            done_q = pending.select("query_id")
        else:
            done_q = topk.filter(F.col("_rn") == k).select("query_id")
        done_rows = topk.join(done_q, "query_id", "left_semi").drop("_rn")
        results = done_rows if results is None else results.unionByName(done_rows)
        if radius >= max_radius_m:
            break
        pending = pending.join(done_q, "query_id", "left_anti").localCheckpoint(
            eager=False
        )
        radius = min(radius * 4, max_radius_m)
        results = results.localCheckpoint(eager=False)
        if pending.isEmpty():
            break
    return results


def knn(
    docs: DataFrame,
    queries: list[tuple],
    k: int = 5,
    start_radius_m: float = 1_000.0,
    max_radius_m: float = 1_000_000.0,
) -> DataFrame:
    """queries: [(query_id, lon, lat), ...] with distinct ids. Returns docs
    columns + query_id + dist_m, k rows per query (fewer if max radius
    exhausts). One collect per round; result built from the kept rows.

    QUERY-COUNT ENVELOPE: the query list, the broadcast window table and the
    kept rows (<= k per query) are O(len(queries)) DRIVER state — correct
    for the reference's process semantics (hundreds to a few thousand
    points). For query TABLES beyond ~10^4 points use knn_join above: same
    expanding-radius semantics, all state in DataFrames."""
    pending = [(str(q), float(lon), float(lat)) for q, lon, lat in queries]
    if len({q for q, _, _ in pending}) != len(pending):
        raise ValueError("knn: query ids must be distinct")
    spark: SparkSession = docs.sparkSession
    schema = StructType([*docs.schema, StructField("query_id", StringType()), StructField("dist_m", DoubleType())])
    arrow_schema = to_arrow_schema(schema)
    kept = [arrow_schema.empty_table()]
    radius = start_radius_m
    while pending:
        point = {q: (lon, lat) for q, lon, lat in pending}
        windows = _query_windows(pending, radius)
        cells = _cover_cells([w for _, w in windows], PARTITION_CELL_BITS)
        wdf = spark.createDataFrame(
            [(q, *point[q], *w) for q, w in windows],
            "query_id string, q_lon double, q_lat double,"
            " w_minx double, w_miny double, w_maxx double, w_maxy double",
        )
        # MULTI_CELL (-1) rows (multi-cell extents / null geom) are never
        # pruned; their x/y centroid still passes the window+distance check
        cand = docs.filter(F.col("cell").isin([*cells, MULTI_CELL])).join(
            F.broadcast(wdf), F.expr("x BETWEEN w_minx AND w_maxx AND y BETWEEN w_miny AND w_maxy")
        )
        cand = cand.withColumn(
            "dist_m", haversine_col(F.col("x"), F.col("y"), F.col("q_lon"), F.col("q_lat"))
        ).filter(F.col("dist_m") <= F.lit(min(radius, max_radius_m)))
        w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col("doc_id").asc())
        top = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select(*schema.names)
            .toArrow()
            .cast(arrow_schema)
        )
        # done: k rows found (none farther can displace them) or space exhausted
        ids = top.column("query_id").to_pylist()
        found = Counter(ids)
        done = {q for q in point if found[q] >= k or radius >= max_radius_m}
        kept.append(top.filter(pa.array([q in done for q in ids], pa.bool_())))
        pending = [p for p in pending if p[0] not in done]
        # x4 expansion: each extra round quadruples the window area, so even a
        # badly-underestimated start radius converges in a few Spark jobs
        radius = min(radius * 4, max_radius_m)
    # one chunk: Spark stops reading an Arrow stream at its first empty batch
    return spark.createDataFrame(pa.concat_tables(kept).combine_chunks(), schema)

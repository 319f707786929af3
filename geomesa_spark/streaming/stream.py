"""Structured Streaming integration.

The reference has NO Spark streaming path (its Kafka store is a queryable
cache, docs/user/kafka/index.rst:10-14; SURVEY.md §1.4/§2.10) — this module
is the Spark-native extension the blueprint prescribes: readStream ->
the same cell-indexing Columns -> watermarked windowed aggregation.

Works with any streaming source (kafka/rate/file); the transformations are
source-agnostic Column expressions, so the batch and streaming paths share
one implementation."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.density import grid_i, tile_x, tile_y


KAFKA_POINT_VALUE_SCHEMA = "doc_id string, ts timestamp, x double, y double"


def parse_kafka_points(raw: DataFrame) -> DataFrame:
    """Kafka wire rows (value: binary JSON) -> typed point stream. Source-
    agnostic Column transformation: identical over readStream.format('kafka')
    output and any batch DataFrame with the same (value binary) shape, so the
    parsing logic is testable without a broker."""
    j = F.from_json(F.col("value").cast("string"), KAFKA_POINT_VALUE_SCHEMA)
    return raw.select(j.alias("_j")).select("_j.*").filter(F.col("doc_id").isNotNull())


def kafka_point_stream(
    spark,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """readStream.format('kafka') -> parsed point stream. Requires the
    spark-sql-kafka connector jar on the classpath (not present in this
    sandbox — test_kafka_streaming skips with a documented reason when the
    source is unavailable; the value-parsing transformation is covered
    separately on a batch DataFrame)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_points(raw)


def windowed_tile_counts(
    stream: DataFrame,
    zoom: int,
    time_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    lon_col: str = "x",
    lat_col: str = "y",
) -> DataFrame:
    """Documents per slippy tile per event-time window, late data handled by
    the watermark. Output mode `update`/`append` both valid."""
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(
            F.window(time_col, window).alias("w"),
            tile_x(F.col(lon_col), zoom).alias("tile_x"),
            tile_y(F.col(lat_col), zoom).alias("tile_y"),
        )
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "tile_x",
            "tile_y",
            "n_docs",
        )
    )


def windowed_density(
    stream: DataFrame,
    bbox: tuple[float, float, float, float],
    width: int,
    height: int,
    time_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    lon_col: str = "x",
    lat_col: str = "y",
) -> DataFrame:
    """Streaming heatmap: GridSnap pixel + event-time window aggregation."""
    minx, miny, maxx, maxy = bbox
    return (
        stream.withWatermark(time_col, watermark)
        .filter(
            (F.col(lon_col) >= minx) & (F.col(lon_col) <= maxx)
            & (F.col(lat_col) >= miny) & (F.col(lat_col) <= maxy)
        )
        .groupBy(
            F.window(time_col, window).alias("w"),
            grid_i(F.col(lon_col), minx, maxx, width).alias("i"),
            grid_i(F.col(lat_col), miny, maxy, height).alias("j"),
        )
        .agg(F.count("*").alias("weight"))
        .select(F.col("w.start").alias("window_start"), "i", "j", "weight")
    )


def streaming_spatial_join(
    stream: DataFrame,
    polygons: DataFrame,
    bits: int = 6,
    lon_col: str = "x",
    lat_col: str = "y",
    geom_col: str = "geom_wkb",
) -> DataFrame:
    """Stream-static spatial join: a point stream against a static polygon
    table, keyed on the SAME grid cells as the batch join (cell equi-join is
    streaming-legal; the exact point-in-polygon refine is the same vectorized
    predicate). The static side is prepared once: envelope + exploded cover
    cells; Spark broadcasts it into every micro-batch."""
    from ..operators.spatial_join import (
        _pairwise_predicate_udf,
        _with_envelope,
        _with_join_cells,
        cover_cells_expr,
    )

    # static side: envelope + exploded cover cells (renamed to avoid clashes)
    P = _with_envelope(polygons, geom_col, "r")
    psel = []
    for c in P.columns:
        if c in ("minx", "miny", "maxx", "maxy"):
            psel.append(F.col(c).alias(f"r_{c}"))
        elif c in set(stream.columns):
            psel.append(F.col(c).alias(f"{c}_r"))
        else:
            psel.append(F.col(c))
    P2 = _with_join_cells(P.select(*psel), "r_", bits)

    # stream side: one cell per point, pure Column math (streaming-safe)
    cover = cover_cells_expr(bits)
    s = stream.withColumn(
        "join_cell",
        F.explode(
            cover(F.col(lon_col), F.col(lat_col), F.col(lon_col), F.col(lat_col))
        ),
    )
    joined = s.join(F.broadcast(P2), on="join_cell").filter(
        (F.col(lon_col) >= F.col("r_minx"))
        & (F.col(lon_col) <= F.col("r_maxx"))
        & (F.col(lat_col) >= F.col("r_miny"))
        & (F.col(lat_col) <= F.col("r_maxy"))
    )
    rgeom = geom_col if geom_col not in stream.columns else f"{geom_col}_r"
    pred = _pairwise_predicate_udf("intersects")
    from ..functions.library import UDFS

    pt = UDFS["st_makePoint"](F.col(lon_col), F.col(lat_col))
    return joined.filter(pred(pt, F.col(rgeom))).drop(
        "join_cell", "r_minx", "r_miny", "r_maxx", "r_maxy"
    )


def sessionize_tracks(
    stream: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    gap: str = "30 seconds",
    watermark: str = "2 minutes",
    lon_col: str = "x",
    lat_col: str = "y",
) -> DataFrame:
    """Custom STATEFUL streaming operator: per-key track sessionization with
    an inactivity gap, via applyInPandasWithState (the pattern the engine
    uses when windowed aggs can't express the semantics — a session closes
    `gap` after its last point, emitting (user, session bounds, n_points,
    track_meters)). Geodesic distance accumulates incrementally in state, so
    a session's points never buffer unboundedly."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from ..geom.algorithms import haversine

    out_schema = StructType(
        [
            StructField("user_id", StringType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_points", LongType()),
            StructField("track_meters", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_s", DoubleType()),
            StructField("end_s", DoubleType()),
            StructField("n", LongType()),
            StructField("meters", DoubleType()),
            StructField("last_lon", DoubleType()),
            StructField("last_lat", DoubleType()),
        ]
    )
    gap_ms = {"seconds": 1000, "second": 1000, "minutes": 60000, "minute": 60000}
    num, unit = gap.split()
    gap_millis = int(num) * gap_ms[unit]

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            s0, s1, n, meters, _, _ = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    # micro-second rounding: Arrow's timestamp[us] cast is
                    # lossy (errors) on arbitrary-ns values from float math
                    "session_start": [pd.Timestamp(round(s0 * 1e6), unit="us")],
                    "session_end": [pd.Timestamp(round(s1 * 1e6), unit="us")],
                    "n_points": [n],
                    "track_meters": [meters],
                }
            )
            return
        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts = rows["ts"].map(pd.Timestamp.timestamp).to_numpy()
        xs = rows["x"].to_numpy()
        ys = rows["y"].to_numpy()
        if state.exists:
            s0, s1, n, meters, llon, llat = state.get
        else:
            s0, s1, n, meters, llon, llat = ts[0], ts[0], 0, 0.0, None, None
        for i in range(len(ts)):
            if llon is not None:
                meters += haversine(llon, llat, xs[i], ys[i])
            llon, llat = xs[i], ys[i]
            s1 = max(s1, ts[i])
            n += 1
        state.update((s0, s1, int(n), float(meters), float(llon), float(llat)))
        state.setTimeoutDuration(gap_millis)
        yield pd.DataFrame(
            {
                "user_id": pd.Series([], dtype=object),
                "session_start": pd.Series([], dtype="datetime64[ns]"),
                "session_end": pd.Series([], dtype="datetime64[ns]"),
                "n_points": pd.Series([], dtype="int64"),
                "track_meters": pd.Series([], dtype="float64"),
            }
        )

    return (
        stream.withWatermark(time_col, watermark)
        # alias to the ts/x/y names the stateful fn expects — callers may
        # pass any time/lon/lat column names
        .select(
            F.col(key_col).cast("string").alias("user_id"),
            F.col(time_col).alias("ts"),
            F.col(lon_col).alias("x"),
            F.col(lat_col).alias("y"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update", GroupStateTimeout.ProcessingTimeTimeout
        )
    )


def geofence_transitions(
    stream: DataFrame,
    fences: list[tuple[str, str]],
    key_col: str = "user_id",
    time_col: str = "ts",
    lon_col: str = "x",
    lat_col: str = "y",
    idle_ttl_ms: int = 3_600_000,
) -> DataFrame:
    """Stateful geofence ENTER/EXIT detection: emits one row per transition
    of an entity across any of up to 63 literal fence polygons (the
    streaming upgrade of streaming_proximity_alerts' stateless filter —
    alert-on-boundary-crossing instead of alert-while-inside; reference
    analog: the geofencing pattern over live feeds described for the
    reference's streaming/Lambda layer).

    State per entity is ONE long (inside-set bitmask) + a timestamp —
    bounded by the live-entity count, with an idle TTL eviction
    (applyInPandasWithState ProcessingTimeTimeout). Membership tests run
    vectorized per micro-batch (one locate per fence over the whole
    entity batch, boundary-inclusive); events are applied in event-time
    order within the batch. An entity's FIRST appearance inside a fence
    emits 'enter' (the unknown->inside transition is observable)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from ..geom.algorithms import EXTERIOR
    from ..geom.vectorized import locate_batch
    from ..geom.wkb import from_wkb, to_wkb
    from ..geom.wkt import from_wkt

    if len(fences) > 63:
        raise ValueError("geofence_transitions supports at most 63 fences")
    fence_ids = [fid for fid, _ in fences]
    fence_wkbs = [to_wkb(from_wkt(wkt)) for _, wkt in fences]

    out_schema = StructType(
        [
            StructField("user_id", StringType()),
            StructField("fence_id", StringType()),
            StructField("event", StringType()),
            StructField("ts", TimestampType()),
            StructField("x", DoubleType()),
            StructField("y", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("mask", LongType()), StructField("last_s", DoubleType())]
    )

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({f.name: pd.Series([], dtype=object) for f in out_schema})
            return
        rows = pd.concat(list(pdfs)).sort_values("ts", kind="stable")
        xs = rows["x"].to_numpy(dtype=float)
        ys = rows["y"].to_numpy(dtype=float)
        tss = rows["ts"].tolist()
        geoms = [from_wkb(b) for b in fence_wkbs]
        member = [locate_batch(xs, ys, g) != EXTERIOR for g in geoms]
        mask = int(state.get[0]) if state.exists else 0
        out = {c: [] for c in ("user_id", "fence_id", "event", "ts", "x", "y")}
        for i in range(len(xs)):
            for j, fid in enumerate(fence_ids):
                inside = bool(member[j][i])
                was = (mask >> j) & 1
                if inside and not was:
                    mask |= 1 << j
                    ev = "enter"
                elif not inside and was:
                    mask &= ~(1 << j)
                    ev = "exit"
                else:
                    continue
                out["user_id"].append(key[0])
                out["fence_id"].append(fid)
                out["event"].append(ev)
                out["ts"].append(tss[i])
                out["x"].append(xs[i])
                out["y"].append(ys[i])
        last_s = pd.Timestamp(tss[-1]).timestamp() if len(tss) else 0.0
        state.update((mask, float(last_s)))
        state.setTimeoutDuration(idle_ttl_ms)
        yield pd.DataFrame(out)

    return (
        stream.select(
            F.col(key_col).cast("string").alias("user_id"),
            F.col(time_col).alias("ts"),
            F.col(lon_col).cast("double").alias("x"),
            F.col(lat_col).cast("double").alias("y"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update", GroupStateTimeout.ProcessingTimeTimeout
        )
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    time_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST document per distinct text
    (sha2-256 identity), with state bounded by the watermark —
    dropDuplicatesWithinWatermark keys a 32-byte hash, not the text, so
    state stays small at web-scale ingest rates. The batch analog is
    dedup.exact_dedup / canonicalize_exact."""
    hashed = stream.withColumn("_th", F.sha2(F.col(text_col), 256)).withWatermark(
        time_col, watermark
    )
    return hashed.dropDuplicatesWithinWatermark(["_th"]).drop("_th")


def stream_stream_proximity_join(
    left: DataFrame,
    right: DataFrame,
    meters: float,
    time_window: str = "5 minutes",
    watermark: str = "10 minutes",
    time_col: str = "ts",
    lon_col: str = "x",
    lat_col: str = "y",
) -> DataFrame:
    """STREAM-STREAM spatio-temporal proximity join: pairs (l, r) with
    haversine(l, r) <= meters AND |l.ts - r.ts| <= time_window, both sides
    unbounded streams ("vessels within 1 km of each other within 5 min").

    Spark's stream-stream inner join needs an EQUALITY key plus event-time
    bounds for state cleanup; the equality key here is the proximity grid
    cell: cell width >= the search distance, LEFT rows explode to the
    latitude-aware neighbor cells that could hold a match (exact
    asin(sin r / cos lat) lon bound; pole-touching discs route through a
    polar sentinel bucket rather than a full lon ring; lon cell ids WRAP
    at the antimeridian), RIGHT rows keep their single cell plus any polar
    sentinel they are reachable from, so each qualifying pair matches in
    EXACTLY one (jcx, jcy) bucket (the dedup proof lives on the shared
    cover, spatial_join._distance_cell_cover). Exact haversine +
    time-range filter after the keyed join. Watermarks on both sides
    bound the join state."""
    from ..operators.knn import haversine_col

    win_secs = _duration_secs(time_window)

    def cells(df: DataFrame, side: str, explode_neighbors: bool) -> DataFrame:
        # shared provable cell covers with the batch distance_join
        # (spatial_join._distance_cell_cover): the exploding side probes
        # (2k+1) x 3 latitude-aware neighbor cells — or ONE polar sentinel
        # when its disc touches a pole, instead of a metre-scale full lon
        # ring that would inflate stream-join state by millions of rows —
        # and the other side keeps its single cell plus any polar sentinel
        # it is reachable from. Lon cells wrap modulo ceil(360/cell), so
        # antimeridian-straddling pairs share a bucket.
        from ..operators.spatial_join import (
            _distance_cell_cover,
            _distance_cell_cover_right,
        )

        out = df.withWatermark(time_col, watermark)
        renamed = out.select(*[F.col(c).alias(f"{side}_{c}") for c in df.columns])
        x, y = F.col(f"{side}_{lon_col}"), F.col(f"{side}_{lat_col}")
        cover = (
            _distance_cell_cover(meters, x, y)
            if explode_neighbors
            else _distance_cell_cover_right(meters, x, y)
        )
        return (
            renamed.withColumn("_jc", F.explode(cover))
            .withColumn("jcx", F.col("_jc.jcx"))
            .withColumn("jcy", F.col("_jc.jcy"))
            .drop("_jc")
        )

    L = cells(left, "l", explode_neighbors=True)
    R = cells(right, "r", explode_neighbors=False)
    lt, rt = F.col(f"l_{time_col}"), F.col(f"r_{time_col}")
    joined = L.join(
        R,
        on=(
            (L["jcx"] == R["jcx"])
            & (L["jcy"] == R["jcy"])
            & (lt >= rt - F.expr(f"interval {win_secs} seconds"))
            & (lt <= rt + F.expr(f"interval {win_secs} seconds"))
        ),
        how="inner",
    )
    dist = haversine_col(
        F.col(f"l_{lon_col}"), F.col(f"l_{lat_col}"),
        F.col(f"r_{lon_col}"), F.col(f"r_{lat_col}"),
    )
    return (
        joined.filter(dist <= F.lit(float(meters)))
        .withColumn("dist_m", dist)
        .drop("jcx", "jcy")
    )


def _duration_secs(s: str) -> int:
    num, unit = s.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600}[unit]
    return int(num) * mult


def streaming_proximity_alerts(
    stream: DataFrame,
    center: tuple[float, float],
    meters: float,
    lon_col: str = "x",
    lat_col: str = "y",
) -> DataFrame:
    """Stateless geofence filter: events within `meters` of a center
    (two-phase dwithin shape, streaming-safe)."""
    from ..operators.knn import haversine_col

    lon, lat = center
    return stream.filter(
        haversine_col(F.col(lon_col), F.col(lat_col), F.lit(lon), F.lit(lat))
        <= F.lit(meters)
    )

"""Density (heatmap) aggregation and slippy-tile assignment.

Reference semantics: DensityScan (geomesa-index-api/.../iterators/
DensityScan.scala:29-115) — snap each geometry to a width x height pixel grid
over an envelope (GridSnap.scala:60-80 floor mapping), weight 1 / a numeric
column / an expression; point -> one pixel, line -> Bresenham pixels,
polygon -> filled pixels; partial grids merged by summing (DensityProcess).

Spark-first: the snap is pure Column arithmetic for points (floor((x-xmin)/dx),
whole-stage codegen) and the aggregation is a plain groupBy(i,j).sum(weight) —
Catalyst's partial+final hash agg IS the reference's server-side fold + client
merge. Only line/polygon rasterization needs a pandas UDF (explode of covered
pixels)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..geom import algorithms as alg
from ..geom.vectorized import locate_batch
from ..geom.wkb import from_wkb
from ..index.tiles import GridSnap, bresenham_cells


def grid_i(col: Column, vmin: float, vmax: float, size: int) -> Column:
    """GridSnap.i as a Column: floor((x-min)/dx) clamped; -1 outside."""
    dx = (vmax - vmin) / size
    i = F.floor((col - F.lit(vmin)) / F.lit(dx))
    i = F.least(i, F.lit(size - 1))
    return F.when((col >= F.lit(vmin)) & (col <= F.lit(vmax)), i).otherwise(F.lit(-1))


def density(
    df: DataFrame,
    bbox: tuple[float, float, float, float],
    width: int = 256,
    height: int = 256,
    weight: str | Column | None = None,
    geometry_render: bool = False,
) -> DataFrame:
    """-> (i, j, weight) sparse grid. Points-only fast path by default (pure
    codegen); geometry_render=True rasterizes lines/polygons via a UDF."""
    minx, miny, maxx, maxy = bbox
    w = F.lit(1.0) if weight is None else (F.col(weight) if isinstance(weight, str) else weight)
    if not geometry_render:
        snapped = df.select(
            grid_i(F.col("x"), minx, maxx, width).alias("i"),
            grid_i(F.col("y"), miny, maxy, height).alias("j"),
            w.alias("_w"),
        ).filter((F.col("i") >= 0) & (F.col("j") >= 0))
        return snapped.groupBy("i", "j").agg(F.sum("_w").alias("weight"))

    gs = GridSnap(minx, miny, maxx, maxy, width, height)

    def pixels(wkbs: pd.Series) -> pd.Series:
        out = []
        for b in wkbs:
            if b is None:
                out.append(None)
                continue
            g = from_wkb(bytes(b))
            out.append([int(i) << 32 | int(j) for i, j in _render(g, gs)])
        return pd.Series(out, dtype=object)

    pix_udf = F.pandas_udf(pixels, ArrayType(LongType()))
    exploded = df.select(
        F.explode(pix_udf(F.col("geom_wkb"))).alias("_pix"), w.alias("_w")
    )
    return (
        exploded.select(
            F.shiftright("_pix", 32).alias("i"),
            F.col("_pix").bitwiseAND(F.lit((1 << 32) - 1)).alias("j"),
            "_w",
        )
        .groupBy("i", "j")
        .agg(F.sum("_w").alias("weight"))
    )


def _render(g, gs: GridSnap) -> list[tuple[int, int]]:
    """Pixels covered by a geometry (DensityScan renderers:287-345)."""
    d = g.dimension()
    if d == 0:
        pts = alg._points_of(g)
        out = set()
        for x, y in pts:
            i, j = int(gs.i([x])[0]), int(gs.j([y])[0])
            if i >= 0 and j >= 0:
                out.add((i, j))
        return sorted(out)
    if d == 1:
        out = set()
        for arr in alg._lines_of(g):
            a = np.asarray(arr)
            for k in range(len(a) - 1):
                i0, j0 = int(gs.i([a[k, 0]])[0]), int(gs.j([a[k, 1]])[0])
                i1, j1 = int(gs.i([a[k + 1, 0]])[0]), int(gs.j([a[k + 1, 1]])[0])
                if i0 < 0 or j0 < 0 or i1 < 0 or j1 < 0:
                    continue
                out.update(bresenham_cells(i0, j0, i1, j1))
        return sorted(out)
    # polygon fill: test grid-cell centers within the geometry's snapped bbox
    minx, miny, maxx, maxy = g.bounds()
    i0 = max(0, int(gs.i([max(minx, gs.minx)])[0]))
    i1 = int(gs.i([min(maxx, gs.maxx)])[0])
    j0 = max(0, int(gs.j([max(miny, gs.miny)])[0]))
    j1 = int(gs.j([min(maxy, gs.maxy)])[0])
    if i1 < 0 or j1 < 0:
        return []
    ii, jj = np.meshgrid(np.arange(i0, i1 + 1), np.arange(j0, j1 + 1), indexing="ij")
    cx = gs.x(ii.ravel())
    cy = gs.y(jj.ravel())
    mask = locate_batch(cx, cy, g) != alg.EXTERIOR
    cells = list(zip(ii.ravel()[mask].tolist(), jj.ravel()[mask].tolist()))
    if not cells:
        # degenerate: polygon smaller than one pixel -> its centroid pixel
        c = alg.centroid(g)
        i, j = int(gs.i([c.coords[0]])[0]), int(gs.j([c.coords[1]])[0])
        if i >= 0 and j >= 0:
            cells = [(i, j)]
    return cells


# ------------------------------------------------------------------- tiling


def polygonize_density(
    cells: DataFrame,
    bbox: tuple[float, float, float, float],
    width: int,
    height: int,
    threshold: float,
):
    """RASTER -> VECTOR: dissolve the grid cells with weight >= threshold
    into maximal (multi)polygons (isoband extraction — the inverse of
    density()'s vector -> raster direction). Returns (geometry, n_cells).

    The collect is bounded by the GRID size (width x height cells), never by
    the data size — the density aggregation upstream is the distributed
    part; turning <= w*h cell rectangles into dissolved rings is inherently
    a driver-sized task (same posture as the reference's density process,
    which renders a fixed-size grid). Corner-touching cells stay separate
    polygons (4-connectivity), matching JTS union semantics for rectangles
    sharing only a vertex."""
    import numpy as np

    from ..geom import algorithms as alg
    from ..geom.core import POLYGON, empty

    minx, miny, maxx, maxy = bbox
    cw = (maxx - minx) / width
    ch = (maxy - miny) / height
    sel = cells.filter(F.col("weight") >= F.lit(float(threshold))).select("i", "j").collect()
    if not sel:
        return empty(POLYGON), 0
    rects = []
    for r in sel:
        x0, y0 = minx + r.i * cw, miny + r.j * ch
        x1, y1 = x0 + cw, y0 + ch
        rects.append(
            np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)])
        )
    # node=False: equal grid cells share exact corner coordinates by
    # construction, so the O(edges x vertices) T-junction pass is unneeded
    return alg.dissolve_pieces(rects, node=False), len(rects)


def tile_x(lon: Column, zoom: int) -> Column:
    n = float(2**zoom)
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    return F.greatest(F.lit(0), F.least(x, F.lit(int(n) - 1))).cast("long")


def tile_y(lat: Column, zoom: int) -> Column:
    n = float(2**zoom)
    lat_c = F.greatest(F.lit(-85.0511287798066), F.least(lat, F.lit(85.0511287798066)))
    lr = F.radians(lat_c)
    y = F.floor(
        (F.lit(1.0) - F.log(F.tan(lr) + F.lit(1.0) / F.cos(lr)) / F.lit(float(np.pi)))
        / F.lit(2.0)
        * F.lit(n)
    )
    return F.greatest(F.lit(0), F.least(y, F.lit(int(n) - 1))).cast("long")


def assign_tiles(df: DataFrame, zoom: int, lon_col: str = "x", lat_col: str = "y") -> DataFrame:
    """Slippy z/x/y tile assignment for point documents — pure Column math
    (raster<->vector bridge; matches index.tiles.lonlat_to_tile exactly)."""
    return df.withColumn("tile_z", F.lit(zoom)).withColumn(
        "tile_x", tile_x(F.col(lon_col), zoom)
    ).withColumn("tile_y", tile_y(F.col(lat_col), zoom))


def tile_counts(df: DataFrame, zoom: int) -> DataFrame:
    """Documents per tile at a zoom level (tile aggregation output)."""
    return (
        assign_tiles(df.filter(F.col("x").isNotNull()), zoom)
        .groupBy("tile_z", "tile_x", "tile_y")
        .agg(F.count("*").alias("n_docs"))
    )


def render_tile_pngs(
    df: DataFrame,
    zoom: int,
    tile_px: int = 256,
    vmax: int | None = None,
    lon_col: str = "x",
    lat_col: str = "y",
) -> DataFrame:
    """Grayscale density heatmap PNG tiles at a slippy zoom level — the
    engine's analog of the WMS tile rendering the reference feeds from
    DensityScan through GeoServer, rendered DISTRIBUTED end to end.

    Plan: pixel indices come from the SAME mercator Column math as tile
    assignment evaluated at zoom + log2(tile_px) (global pixel id >> bits =
    tile id, & mask = in-tile pixel), ONE shuffle to (tile, pixel) counts
    with map-side partial aggregation, then one applyInPandas per tile that
    fills the tile_px x tile_px array and encodes the PNG with the
    pure-stdlib codec (multimodal.png.encode_png). Pixel value =
    min(255, round(255 * count / vmax)); vmax=None normalizes per tile
    (heatmap default), a fixed vmax gives a comparable global scale (and
    vmax=255 makes pixel == count for small counts, the test identity).

    Returns (tile_z int, tile_x long, tile_y long, png binary) — write to
    any sink, or decode with multimodal.png.decode_png."""
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..multimodal.png import encode_png

    bits = int(tile_px).bit_length() - 1
    if 2**bits != tile_px:
        raise ValueError("tile_px must be a power of two")
    gx = tile_x(F.col(lon_col), zoom + bits)
    gy = tile_y(F.col(lat_col), zoom + bits)
    mask = tile_px - 1
    counts = (
        df.filter(F.col(lon_col).isNotNull())
        .select(
            F.shiftright(gx, bits).alias("tile_x"),
            F.shiftright(gy, bits).alias("tile_y"),
            gx.bitwiseAND(F.lit(mask)).alias("px"),
            gy.bitwiseAND(F.lit(mask)).alias("py"),
        )
        .groupBy("tile_x", "tile_y", "px", "py")
        .agg(F.count("*").alias("n"))
    )
    out_schema = StructType(
        [
            StructField("tile_z", IntegerType()),
            StructField("tile_x", LongType()),
            StructField("tile_y", LongType()),
            StructField("png", BinaryType()),
        ]
    )

    def render(key, pdf):
        arr = np.zeros((tile_px, tile_px), dtype=np.float64)
        arr[pdf["py"].to_numpy(), pdf["px"].to_numpy()] = pdf["n"].to_numpy()
        m = float(vmax) if vmax else float(arr.max() or 1.0)
        pix = np.minimum(255.0, np.round(255.0 * arr / m)).astype(np.uint8)
        return pd.DataFrame(
            [
                {
                    "tile_z": zoom,
                    "tile_x": int(key[0]),
                    "tile_y": int(key[1]),
                    "png": encode_png(pix),
                }
            ]
        )

    return counts.groupBy("tile_x", "tile_y").applyInPandas(render, schema=out_schema)


def tile_pyramid(df: DataFrame, zoom_max: int, zoom_min: int = 0) -> DataFrame:
    """Full tile-count PYRAMID zoom_min..zoom_max from ONE pass over the
    data: counts at zoom_max (the only shuffle that touches rows), then each
    parent level is the 4-child sum via integer halving of the CHILD COUNTS
    — every rollup input is 4x smaller than the last, so the whole pyramid
    costs ~4/3 of the base aggregation. The parent rule floor(x/2),
    floor(y/2) is exact for the slippy tile math: floor(f*2^z) ==
    floor(floor(f*2^(z+1))/2) and the clamp maps n-1 -> n/2-1.

    Reference analog: the per-zoom tile/density aggregation outputs the web
    layer renders as a pyramid (DensityProcess + tile exports)."""
    if zoom_min > zoom_max:
        raise ValueError("zoom_min must be <= zoom_max")
    base = (
        tile_counts(df, zoom_max)
        .withColumn("tile_z", F.col("tile_z").cast("long"))
        .localCheckpoint(eager=False)
    )
    out, cur = base, base
    for z in range(zoom_max - 1, zoom_min - 1, -1):
        cur = (
            cur.groupBy(
                F.shiftright(F.col("tile_x"), 1).alias("tile_x"),
                F.shiftright(F.col("tile_y"), 1).alias("tile_y"),
            )
            .agg(F.sum("n_docs").alias("n_docs"))
            .select(F.lit(z).cast("long").alias("tile_z"), "tile_x", "tile_y", "n_docs")
        )
        out = out.unionByName(cur.select(*out.columns))
    return out

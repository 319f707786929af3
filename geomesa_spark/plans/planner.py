"""Query planning: spatial/temporal predicate -> partition-prunable pushdown
predicates + minimal exact refine.

This is the API-level equivalent of the reference's Catalyst rules + key-range
planning (SQLRules.scala:253-291, FilterHelper geometry extraction semantics:
AND=intersection OR=union clip-to-world, GeometryProcessing antimeridian
splitting, Z3IndexKeySpace range decomposition). No custom Catalyst rule is
needed: the planner emits ordinary Column predicates that Spark/Iceberg/parquet
push down natively (day/cell partition pruning + x/y/z2 min-max row-group
pruning), followed by a coarse codegen'd envelope re-check (the Z3Filter
analog: filters/Z3Filter.scala:35-76 compares key ints before deserializing)
and only then the vectorized exact-geometry refine UDF on the surviving rows.

Plan shape per query:
  1. day BETWEEN ...                 (partition pruning)
  2. cell IN (...)                   (partition pruning, coarse Z2 cells)
  3. envelope overlap compare        (whole-stage codegen, row-group stats)
  4. z2 BETWEEN ranges (optional)    (sorted-data locality)
  5. exact refine: skipped when envelope logic is exact ("loose bbox",
     Z3IndexKeySpace.useFullFilter:240-254), else a pandas UDF evaluated on
     EVERY row that passes 1-4. Spark's ExtractPythonUDFs moves each python
     UDF of the filter (the point locate and the WKB predicate) into one
     ArrowEvalPython below it, so the CASE WHEN that picks a row's verdict
     (fully-contained envelope -> TRUE, point -> locate, else predicate)
     runs after both UDFs saw the row; it decides, it does not prune.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..geom import algorithms as alg
from ..geom.core import POLYGON, Geometry
from ..geom.wkb import to_wkb
from ..geom.wkt import from_wkt
from ..index.ranges import zranges_lonlat
from ..index.zorder import WORLD, Z2_BITS, interleave2, normalize
from ..sources.docs import PARTITION_CELL_BITS

# predicates that can drive the index; Touches/Disjoint/Equals are post-filters
# only (reference geomesa-filter/.../package.scala:262-273)
INDEX_PREDICATES = {"intersects", "contains", "within", "covers", "dwithin", "bbox"}


@dataclass
class QueryPlan:
    bboxes: list[tuple[float, float, float, float]]
    predicate: str
    geometry: Geometry | None
    interval: tuple | None
    loose: bool
    cells: list[int] = field(default_factory=list)
    # "mixed" (default) | "points": caller's declaration that every row is a
    # point (e.g. index_points_df output). Matters because python UDFs in
    # BOTH branches of a when() are extracted and evaluated for EVERY row —
    # a mixed-table refine pays the per-row WKB predicate even on an
    # all-points table. "points" refines with the x/y locate alone and never
    # references geom_wkb (so its producing UDF prunes away entirely).
    geom_kind: str = "mixed"

    def describe(self) -> str:
        return (
            f"QueryPlan(predicate={self.predicate}, bboxes={self.bboxes}, "
            f"cells={len(self.cells)}, interval={self.interval}, loose={self.loose})"
        )


def _query_bboxes(g: Geometry) -> list[tuple[float, float, float, float]]:
    """Envelope(s) of the query geometry, split at the antimeridian and
    clipped to the world (FilterHelper.scala:101-135 trimToWorld +
    GeometryProcessing IDL splitting): one per polygon part, plus one for
    the line and point members of a GEOMETRYCOLLECTION, which the exact
    refine counts too."""
    safe = alg.antimeridian_safe(g)
    polys = alg._polygons_of(safe)
    if not polys:
        return [_clip_world(safe.bounds())]
    out = [_clip_world(Geometry(POLYGON, rings).bounds()) for rings in polys]
    rest = [a[:, :2] for a in alg._lines_of(g) if len(a)] + [alg._points_of(g)]
    xy = np.concatenate(rest)
    if len(xy):
        lo, hi = xy.min(axis=0), xy.max(axis=0)
        out.append(_clip_world((lo[0], lo[1], hi[0], hi[1])))
    return out


def _clip_world(b):
    return (
        max(b[0], WORLD[0]),
        max(b[1], WORLD[1]),
        min(b[2], WORLD[2]),
        min(b[3], WORLD[3]),
    )


def _cover_cells(bboxes, bits: int) -> list[int]:
    """All coarse grid cells intersecting the query bboxes (grid covering,
    Z2Scheme.getIntersectingPartitions analog)."""
    cells = set()
    for minx, miny, maxx, maxy in bboxes:
        ix0 = int(normalize([minx], WORLD[0], WORLD[2], bits)[0])
        ix1 = int(normalize([maxx], WORLD[0], WORLD[2], bits)[0])
        iy0 = int(normalize([miny], WORLD[1], WORLD[3], bits)[0])
        iy1 = int(normalize([maxy], WORLD[1], WORLD[3], bits)[0])
        for ix in range(ix0, ix1 + 1):
            for iy in range(iy0, iy1 + 1):
                cells.add(int(interleave2([ix], [iy])[0]))
    return sorted(cells)


def plan(
    geometry: str | Geometry | None = None,
    predicate: str = "intersects",
    interval: tuple | None = None,
    loose: bool = False,
    cell_bits: int = PARTITION_CELL_BITS,
    geom_kind: str = "mixed",
) -> QueryPlan:
    if geom_kind not in ("mixed", "points"):
        raise ValueError(f"geom_kind must be 'mixed' or 'points', got {geom_kind!r}")
    g = from_wkt(geometry) if isinstance(geometry, str) else geometry
    bboxes = _query_bboxes(g) if g is not None else []
    cells = _cover_cells(bboxes, cell_bits) if bboxes else []
    return QueryPlan(
        bboxes=bboxes,
        predicate=predicate,
        geometry=g,
        interval=interval,
        loose=loose or (predicate == "bbox"),
        cells=cells,
        geom_kind=geom_kind,
    )


def apply_plan(df: DataFrame, qp: QueryPlan) -> DataFrame:
    """Apply a QueryPlan to an indexed docs DataFrame."""
    cond = None

    def AND(a, b):
        return b if a is None else (a & b)

    if qp.interval is not None:
        lo, hi = qp.interval
        tcond = F.col("ts") >= F.lit(lo)
        tcond = tcond & (F.col("ts") < F.lit(hi))
        if "day" in df.columns:
            tcond = tcond & F.col("day").between(
                F.to_date(F.lit(str(lo))), F.to_date(F.lit(str(hi)))
            )
        cond = AND(cond, tcond)

    if qp.bboxes:
        if qp.cells and "cell" in df.columns:
            # MULTI_CELL (-1) marks envelopes spanning several coarse cells
            # (and null geometry); that partition is never pruned — soundness
            # for extent rows, see docs.MULTI_CELL
            from ..sources.docs import MULTI_CELL

            cond = AND(cond, F.col("cell").isin([*qp.cells, MULTI_CELL]))
        # envelope overlap (codegen'd; parquet row-group min/max prunable)
        box_cond = None
        for minx, miny, maxx, maxy in qp.bboxes:
            c = (
                (F.col("minx") <= F.lit(maxx))
                & (F.col("maxx") >= F.lit(minx))
                & (F.col("miny") <= F.lit(maxy))
                & (F.col("maxy") >= F.lit(miny))
            )
            box_cond = c if box_cond is None else (box_cond | c)
        cond = AND(cond, box_cond)

    out = df.filter(cond) if cond is not None else df

    if qp.geometry is not None and not qp.loose:
        out = _refine(out, qp)
    elif qp.geometry is not None and qp.loose and qp.predicate in ("contains", "within"):
        # loose containment still needs envelope-inside, not just overlap
        b = qp.bboxes[0]
        out = out.filter(
            (F.col("minx") >= F.lit(b[0]))
            & (F.col("maxx") <= F.lit(b[2]))
            & (F.col("miny") >= F.lit(b[1]))
            & (F.col("maxy") <= F.lit(b[3]))
        )
    return out


def _pip_udf(geometry: Geometry, boundary_ok: bool):
    """Vectorized locate of (x, y) columns against ONE literal areal query
    geometry — the hot refine path for point rows: one numpy pass per Arrow
    batch, no WKB decode (BASELINE.json: 'ray-casting over batched pandas
    UDFs'). boundary_ok counts boundary points; otherwise only interior."""
    import pandas as pd
    from pyspark.sql.types import BooleanType

    from ..geom.vectorized import locate_batch
    from ..geom.wkb import to_wkb as _to_wkb
    from ..geom.wkb import from_wkb as _from_wkb

    qbytes = _to_wkb(geometry)

    def pip(xs, ys):  # no type hints: local-import annotations don't resolve
        g = _from_wkb(qbytes)
        loc = locate_batch(xs.to_numpy(dtype=float), ys.to_numpy(dtype=float), g)
        mask = loc != alg.EXTERIOR if boundary_ok else loc == alg.INTERIOR
        out = pd.Series(mask)
        out[xs.isna() | ys.isna()] = None
        return out.astype(object)

    return F.pandas_udf(pip, BooleanType())


def _refine(df: DataFrame, qp: QueryPlan) -> DataFrame:
    """Exact-geometry refine of the rows that passed the envelope prefilter.
    The verdict is picked per row by a CASE WHEN: a row whose envelope is
    inside a solid rectangular query is TRUE for intersects (loose-bbox
    rule, Z3IndexKeySpace.useFullFilter:240-254), a point row takes the
    vectorized x/y locate, any other row the WKB predicate. Spark evaluates
    python UDFs before the condition that uses them (one ArrowEvalPython
    under the filter, explain("formatted")), so the locate and the WKB
    predicate both run on EVERY prefiltered row; the CASE only chooses
    between their results. The all-points form below has one UDF and no
    CASE."""
    from ..functions.library import UDFS

    qwkb = F.lit(bytearray(to_wkb(qp.geometry)))
    pred = qp.predicate

    # ALL-POINTS declaration (plan(geom_kind="points"), e.g. tables built by
    # index_points_df): refine with the x/y locate ALONE. The mixed-table
    # form below wraps the locate and the WKB predicate in a when(), and
    # Spark extracts python UDFs from BOTH branches — every row would pay
    # the per-row WKB predicate too, and geom_wkb's producing UDF could
    # never be pruned from the scan.
    if (
        qp.geom_kind == "points"
        and pred in ("intersects", "bbox", "dwithin", "within", "contains", "covers")
        and qp.geometry is not None
        and qp.geometry.dimension() == 2
        and {"x", "y"}.issubset(df.columns)
    ):
        boundary_ok = pred in ("intersects", "bbox", "dwithin", "covers")
        return df.filter(_pip_udf(qp.geometry, boundary_ok)(F.col("x"), F.col("y")))

    geom = F.col("geom_wkb")
    if pred in ("intersects", "bbox", "dwithin"):
        exact = UDFS["st_intersects"](geom, qwkb)
    elif pred == "contains":
        # query contains row-geometry
        exact = UDFS["st_contains"](qwkb, geom)
    elif pred == "within":
        exact = UDFS["st_within"](geom, qwkb)
    elif pred == "covers":
        exact = UDFS["st_covers"](qwkb, geom)
    else:
        exact = UDFS[f"st_{pred}"](geom, qwkb)

    # point-row locate fast path: x/y only, no WKB decode. For a point,
    # intersects/within/contains-by-query/covers against an areal query all
    # reduce to point-in-polygon (boundary counts except for strict contains).
    if (
        pred in ("intersects", "bbox", "dwithin", "within", "contains", "covers")
        and qp.geometry is not None
        and qp.geometry.dimension() == 2
        and {"x", "y", "minx", "maxx", "miny", "maxy"}.issubset(df.columns)
    ):
        boundary_ok = pred in ("intersects", "bbox", "dwithin", "covers")
        pip = _pip_udf(qp.geometry, boundary_ok)
        is_point = (F.col("minx") == F.col("maxx")) & (F.col("miny") == F.col("maxy"))
        exact = F.when(is_point, pip(F.col("x"), F.col("y"))).otherwise(exact)

    # a solid rectangular query makes "envelope inside the rectangle" exact
    # for intersects; the UDF results of those rows are computed but unused
    b = alg.solid_rect_bounds(qp.geometry) if pred == "intersects" else None
    if b is not None:
        contained = (
            (F.col("minx") >= F.lit(b[0]))
            & (F.col("maxx") <= F.lit(b[2]))
            & (F.col("miny") >= F.lit(b[1]))
            & (F.col("maxy") <= F.lit(b[3]))
        )
        return df.filter(F.when(contained, F.lit(True)).otherwise(exact))
    return df.filter(exact)


def spatial_filter(
    df: DataFrame,
    geometry: str | Geometry,
    predicate: str = "intersects",
    interval: tuple | None = None,
    loose: bool = False,
    geom_kind: str = "mixed",
) -> DataFrame:
    """One-call API: plan + apply (the engine's `df.filter(st_...)` fast
    path). Pass geom_kind="points" for tables known to hold only points
    (index_points_df output) — the refine then never touches geom_wkb."""
    return apply_plan(df, plan(geometry, predicate, interval, loose, geom_kind=geom_kind))


# ----------------------------------------------------------- Z3 pushdown path


def _or_tree_sql(terms: list[str]) -> str | None:
    """Balanced OR combination as ONE SQL string. Two reasons this is a
    string, not Columns: (1) every Column operation is a py4j round trip
    (~3-10 ms of driver time each — a 250-range predicate built as Columns
    costs ~2.5 s BEFORE any execution; as a string it is one F.expr call),
    and (2) balanced nesting keeps Catalyst's recursive expression visitors
    shallow (deep left-nested OR chains overflow them)."""
    if not terms:
        return None
    while len(terms) > 1:
        terms = [
            f"({terms[i]} OR {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def ranges_between_sql(col_name: str, ranges) -> str | None:
    """`col BETWEEN lo AND hi` OR-tree over decomposed key ranges, as a
    single parseable SQL string (values are plan-time integer literals)."""
    return _or_tree_sql(
        [f"{col_name} BETWEEN {int(r.lower)} AND {int(r.upper)}" for r in ranges]
    )


def z3_predicate(
    bboxes: list[tuple[float, float, float, float]],
    interval: tuple,
    max_ranges: int = 200,
) -> Column | None:
    """(week_bin, z3) range predicate for a spatio-temporal query — the
    Z3IndexKeySpace analog (z3/Z3IndexKeySpace.scala:63-95: per-bin z-range
    decomposition, range budget split across bins :169-181). Emitted as an
    ordinary Column so parquet min/max stats on the sorted z3 column prune
    row groups; combine with apply_plan's envelope compare for exactness."""
    import pandas as pd

    from ..index.ranges import zranges_box
    from ..index.zorder import SECONDS_PER, WORLD, Z3_BITS, normalize

    if not bboxes or interval is None:
        return None

    lo = pd.Timestamp(interval[0]).timestamp()
    hi = pd.Timestamp(interval[1]).timestamp()
    per = SECONDS_PER["week"]
    bin_lo, bin_hi = int(lo // per), int(hi // per)
    n_bins = bin_hi - bin_lo + 1
    per_bin_budget = max(1, max_ranges // max(1, n_bins * len(bboxes)))
    all_conds = []
    for b in range(bin_lo, bin_hi + 1):
        t0 = max(lo, b * per) - b * per
        t1 = min(hi, (b + 1) * per) - b * per
        # No epsilon shrink on t1 (mirrors the xz3 fix below): a point whose
        # timestamp equals the interval upper bound AND lands exactly on a Z3
        # time-cell boundary normalizes into the NEXT cell; shrinking the
        # pushdown bound would prune that row even though the exact filter
        # keeps it. normalize clamps to the bin, so the closed bound is safe
        # (over-select, never miss).
        it0 = int(normalize([t0], 0, per, Z3_BITS)[0])
        it1 = int(normalize([max(t0, t1)], 0, per, Z3_BITS)[0])
        for minx, miny, maxx, maxy in bboxes:
            ix0 = int(normalize([minx], WORLD[0], WORLD[2], Z3_BITS)[0])
            ix1 = int(normalize([maxx], WORLD[0], WORLD[2], Z3_BITS)[0])
            iy0 = int(normalize([miny], WORLD[1], WORLD[3], Z3_BITS)[0])
            iy1 = int(normalize([maxy], WORLD[1], WORLD[3], Z3_BITS)[0])
            ranges = zranges_box(
                ix0, iy0, ix1, iy1, Z3_BITS,
                max_ranges=per_bin_budget, max_recurse=7,
                itmin=it0, itmax=it1,
            )
            rc = ranges_between_sql("z3", ranges)
            if rc is not None:
                all_conds.append(f"(week_bin = {b} AND {rc})")
    sql = _or_tree_sql(all_conds)
    return F.expr(sql) if sql else None


def xz3_predicate(
    bboxes: list[tuple[float, float, float, float]],
    interval: tuple,
    max_ranges: int = 200,
) -> Column | None:
    """(week_bin, xz3) range predicate for spatio-temporal EXTENT queries —
    the true XZ3IndexKeySpace analog (xz3/XZ3IndexKeySpace.scala + ref
    XZ3SFC.scala:139-273 per-bin range decomposition). Unlike the composed
    (week_bin, xz2) pair, the 3-D code prunes on the TIME axis within a bin,
    so long-duration windows over long-lived extents do not over-scan.
    Over-selects, never misses; combine with the envelope + ts compare."""
    import pandas as pd

    from ..index.xz3 import XZ3SFC
    from ..index.zorder import SECONDS_PER

    if not bboxes or interval is None:
        return None

    sfc = XZ3SFC()
    lo = pd.Timestamp(interval[0]).timestamp()
    hi = pd.Timestamp(interval[1]).timestamp()
    per = SECONDS_PER["week"]
    bin_lo, bin_hi = int(lo // per), int(hi // per)
    n_bins = bin_hi - bin_lo + 1
    per_bin_budget = max(4, max_ranges // max(1, n_bins))
    all_conds = []
    for b in range(bin_lo, bin_hi + 1):
        t0 = max(lo, b * per) - b * per
        t1 = min(hi, (b + 1) * per) - b * per
        # No epsilon shrink on t1: a doc whose timestamp sits exactly on the
        # interval upper bound AND on an octree time-cell boundary must stay
        # inside the pushdown ranges (over-select, never miss). _normalize
        # already clamps t1 to the bin, so the closed upper bound is safe.
        windows = [
            (minx, miny, t0, maxx, maxy, max(t0, t1))
            for minx, miny, maxx, maxy in bboxes
        ]
        ranges = sfc.ranges(windows, max_ranges=per_bin_budget)
        rc = ranges_between_sql("xz3", ranges)
        if rc is not None:
            all_conds.append(f"(week_bin = {b} AND {rc})")
    sql = _or_tree_sql(all_conds)
    return F.expr(sql) if sql else None

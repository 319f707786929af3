"""Distributed spatial join: cell-keyed equi-join + vectorized refine.

Reference semantics: GeoMesaJoinRelation's grid-partitioned sweepline join
(geomesa-spark-sql/.../GeoMesaJoinRelation.scala:41-91 + OverlapAction.scala:17-42):
both relations are partitioned by the same grid, joined on cell id, then an
in-partition sweepline runs the exact predicate. Duplication: a geometry
intersecting k cells appears in all k (RelationUtils.scala:35-53) and the
reference leaves "TODO: filter duplicates when querying" — we fix that with
the reference-cell technique: a pair is emitted only in the grid cell that
contains the lower-left corner of the pair's envelope intersection, so each
qualifying pair survives in EXACTLY one cell and row parity is exact.

Spark-first plan:
  explode(cover_cells(envelope))      -> (cx, cy) grid key per side
  repartition/join on (cx, cy)        -> hash or broadcast equi-join (AQE skew)
  bbox overlap + reference-cell guard -> plain Column arithmetic, codegen'd
  exact predicate                     -> Arrow pandas UDF (vectorized
                                         locate / intersects / lineal
                                         batches, scalar relate for the
                                         rest; see _pairwise_predicate_fn)

Scale notes: the equi-join shuffles once on the grid key; hot cells are
handled by AQE skew-join splitting plus the optional `salt` knob which
subdivides only cells whose row count exceeds a threshold. The small side
should be broadcast (`broadcast=True`) to skip the shuffle entirely.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..geom.vectorized import (
    areal_intersects_batch,
    lineal_predicate_batch,
    locate_batch,
    points_from_wkb,
)
from ..geom.wkb import from_wkb
from ..geom import algorithms as alg
from ..geom import core as gcore
from ..index.zorder import WORLD, normalize

DEFAULT_JOIN_BITS = 6  # 64x64 world grid (~5.6 deg cells); override per join
# automatic broadcast: the exploded right side is broadcast when the raw right
# input has at most this many rows
_BROADCAST_MAX_ROWS = 200_000


def _grid_scale(bits: int) -> tuple[float, float]:
    return (2.0**bits) / 360.0, (2.0**bits) / 180.0


def cover_cells_expr(bits: int):
    """Envelope -> array of (cx << 32 | cy) covered grid keys as a PURE Column
    expression (sequence x transform x flatten — whole-stage codegen, no
    Python). A point envelope yields a 1-element array; a null envelope a null
    array (dropped by explode)."""
    n = 2**bits
    sx, sy = _grid_scale(bits)

    def cover(minx, miny, maxx, maxy):
        def idx(c, lo, s):
            return F.greatest(
                F.lit(0), F.least(F.floor((c - F.lit(lo)) * F.lit(s)), F.lit(n - 1))
            ).cast("long")

        ix0, ix1 = idx(minx, WORLD[0], sx), idx(maxx, WORLD[0], sx)
        iy0, iy1 = idx(miny, WORLD[1], sy), idx(maxy, WORLD[1], sy)
        return F.flatten(
            F.transform(
                F.sequence(ix0, ix1),
                lambda ix: F.transform(
                    F.sequence(iy0, iy1), lambda iy: F.shiftleft(ix, 32).bitwiseOR(iy)
                ),
            )
        )

    return cover


def _with_join_cells(df: DataFrame, p: str, bits: int) -> DataFrame:
    """Attach the exploded join_cell column in ONE pass over the input — the
    cover expression is pure Column math, so there is no point/extent split
    (a filter+union here would execute the upstream scan twice)."""
    cover = cover_cells_expr(bits)
    return df.withColumn(
        "join_cell",
        F.explode(
            cover(
                F.col(f"{p}minx"), F.col(f"{p}miny"), F.col(f"{p}maxx"), F.col(f"{p}maxy")
            )
        ),
    )


def _ref_cell_cond(bits: int):
    """Reference-cell dedupe: pair emitted only where the join cell equals the
    grid cell of the envelope-intersection lower-left corner."""
    sx, sy = _grid_scale(bits)
    n = 2**bits
    corner_x = F.greatest(F.col("l_minx"), F.col("r_minx"))
    corner_y = F.greatest(F.col("l_miny"), F.col("r_miny"))
    # clamp BOTH ends to mirror cover_cells_expr's [0, n-1] clip — without the
    # lower clamp, a corner below the world bounds computes a negative cell
    # that matches no join_cell and the pair is dropped instead of deduped
    ref_cx = F.greatest(
        F.lit(0),
        F.least(F.floor((corner_x - F.lit(WORLD[0])) * F.lit(sx)), F.lit(n - 1)),
    ).cast("long")
    ref_cy = F.greatest(
        F.lit(0),
        F.least(F.floor((corner_y - F.lit(WORLD[1])) * F.lit(sy)), F.lit(n - 1)),
    ).cast("long")
    cell = F.col("join_cell")
    return (F.shiftright(cell, 32) == ref_cx) & (
        cell.bitwiseAND(F.lit((1 << 32) - 1)) == ref_cy
    )


def _rect_pair_predicate(predicate: str, A, B) -> bool | None:
    """Exact DE-9IM predicate for two SOLID axis-aligned rectangles from
    bounds arithmetic alone (closed-set semantics). None = not supported."""
    closed = A[0] <= B[2] and B[0] <= A[2] and A[1] <= B[3] and B[1] <= A[3]
    open_ = A[0] < B[2] and B[0] < A[2] and A[1] < B[3] and B[1] < A[3]
    a_in_b = A[0] >= B[0] and A[2] <= B[2] and A[1] >= B[1] and A[3] <= B[3]
    b_in_a = B[0] >= A[0] and B[2] <= A[2] and B[1] >= A[1] and B[3] <= A[3]
    if predicate == "intersects":
        return closed
    if predicate == "within":
        return a_in_b
    if predicate in ("contains", "covers"):
        # for SOLID rects B inside A, interiors necessarily overlap, so
        # contains == covers == containment of bounds
        return b_in_a
    if predicate == "overlaps":
        return open_ and not a_in_b and not b_in_a
    if predicate == "touches":
        return closed and not open_
    if predicate == "crosses":
        return False  # areal x areal can never cross (dim rule)
    return None


def _pairwise_predicate_fn(predicate: str):
    """The raw batch function behind _pairwise_predicate_udf — exposed so
    tests can drive the exact refine logic on pandas Series without a Spark
    round trip.

    Batched paths, each for pair shapes the measured workloads send:
    - point left rows vs areal / lineal / GEOMETRYCOLLECTION rights
      (intersects, within, touches, crosses): one locate_batch per distinct
      right geometry over all its points;
    - solid-rectangle x solid-rectangle pairs (parcel/bbox/tile workloads):
      pure bounds arithmetic, no per-pair geometry calls — rect-ness and
      bounds are computed ONCE per distinct geometry and cached;
    - areal x areal pairs under `intersects`: areal_intersects_batch per
      distinct right geometry;
    - lineal x areal / lineal x lineal / areal x lineal pairs: batched
      segment-split classification kernels grouped by the non-lineal (or
      right) partner.
    Every other pair (other areal x areal predicates, MULTIPOINT pairs,
    GEOMETRYCOLLECTION pairs, degenerate members) takes the scalar relate."""
    if predicate == "equals":
        # SFS equals(A, B) == within(A, B) AND within(B, A) — compose the
        # fully-batched within refine in both directions rather than
        # duplicating every fast path for a rare predicate
        win = _pairwise_predicate_fn("within")

        def eq_pred(lw: pd.Series, rw: pd.Series) -> pd.Series:
            # byte-identical WKB is the common case in exact-dup joins:
            # same encoding => same point set, so the verdict is the
            # engine's SELF-equals. True for any non-empty geometry without
            # a degenerate areal part; empties are False (SFS: no
            # interior), and zero-AREA areal shapes defer to the scalar
            # (the engine's equals needs interior-interior evidence, which
            # a width-0 polygon lacks even against itself — the 0.3-step
            # lattice sweep caught the shortcut saying True there).
            empty_cache: dict = {}

            def nonempty(b: bytes) -> bool:
                v = empty_cache.get(b)
                if v is None:
                    try:
                        g = from_wkb(b)
                        if g.is_empty():
                            v = False
                        elif alg._polygons_of(g) and not alg.area(g) > 0.0:
                            v = bool(alg.equals(g, g))
                        else:
                            v = True
                    except Exception:
                        v = False
                    empty_cache[b] = v
                return v

            out = [None] * len(lw)
            rest_ix = []
            for k, (x, y) in enumerate(zip(lw, rw)):
                if x is None or y is None:
                    continue
                xb = bytes(x)
                if xb == bytes(y):
                    out[k] = nonempty(xb)
                else:
                    rest_ix.append(k)
            if rest_ix:
                sub_l = lw.iloc[rest_ix].reset_index(drop=True)
                sub_r = rw.iloc[rest_ix].reset_index(drop=True)
                a = win(sub_l, sub_r)
                b = win(sub_r, sub_l)
                for k, x, y in zip(rest_ix, a, b):
                    out[k] = (
                        None
                        if (x is None or y is None)
                        else bool(x) and bool(y)
                    )
            return pd.Series(out, dtype=object)

        return eq_pred
    fn = getattr(alg, predicate)

    def pred(lw: pd.Series, rw: pd.Series) -> pd.Series:
        n = len(lw)
        lbytes = [None if b is None else bytes(b) for b in lw]
        rbytes = [None if b is None else bytes(b) for b in rw]
        pts = points_from_wkb(lbytes)
        left_is_pt = ~np.isnan(pts[:, 0])
        out = np.empty(n, dtype=object)
        cache: dict[bytes, object] = {}
        rect_cache: dict[bytes, tuple | None] = {}

        def geo(b):
            g = cache.get(b)
            if g is None:
                g = from_wkb(b)
                if len(cache) < 8192:
                    cache[b] = g
            return g

        def rect(b):
            if b in rect_cache:
                return rect_cache[b]
            r = alg.solid_rect_bounds(geo(b))
            if len(rect_cache) < 8192:
                rect_cache[b] = r
            return r

        # NOTE: 'covers' is deliberately NOT in the fast path — for a point
        # left row, the locate answers "right covers left", but the
        # predicate is "left covers right" (inverted). Like 'contains', covers
        # takes the generic path. crosses is vacuously false for a 0-dim
        # left: II and IE cannot both be non-empty.
        lineal_types = (gcore.LINESTRING, gcore.MULTILINESTRING)
        areal_types = (gcore.POLYGON, gcore.MULTIPOLYGON)
        if (
            predicate in ("intersects", "within", "touches", "crosses")
            and left_is_pt.any()
        ):
            # group point rows by right geometry -> one vectorized pass each
            idx_pt = np.nonzero(left_is_pt)[0]
            groups: dict[bytes, list[int]] = {}
            for i in idx_pt:
                rb = rbytes[i]
                if rb is None:
                    out[i] = None
                else:
                    groups.setdefault(rb, []).append(i)
            for rb, idxs in groups.items():
                g = geo(rb)
                ii = np.asarray(idxs)
                mask = None
                if (
                    g.gtype in areal_types
                    or g.gtype in lineal_types
                    or g.gtype == gcore.GEOMETRYCOLLECTION
                ):
                    if predicate == "crosses":
                        mask = np.zeros(len(ii), dtype=bool)
                    else:
                        loc = locate_batch(pts[ii, 0], pts[ii, 1], g)
                        if predicate == "intersects":
                            mask = loc != alg.EXTERIOR
                        elif predicate == "within":
                            mask = loc == alg.INTERIOR
                        else:  # touches: on the boundary, not the interior
                            mask = loc == alg.BOUNDARY
                if mask is None:
                    for i in idxs:
                        out[i] = bool(fn(geo(lbytes[i]), g))
                else:
                    for k, i in enumerate(idxs):
                        out[i] = bool(mask[k])
            rest = np.nonzero(~left_is_pt)[0]
        else:
            rest = np.arange(n)
        # non-rect areal x areal intersects pairs batch by distinct right
        # geometry into the vertex-locate/crossing kernel; lineal x areal,
        # lineal x lineal and areal x lineal pairs batch through the
        # segment-split classification kernels (lineal side concatenated,
        # ONE chunked S x E parameter broadcast per group). Every other pair
        # takes the scalar relate.
        #
        # Group entries are (row index, member Geometry); the ONE partner
        # geometry per group lives in partner_of[key].
        areal_groups: dict[object, list[tuple[int, object]]] = {}
        # keyed ("l"|"r", partner bytes): "l" = lineal LEFT grouped by right
        # partner; "r" = lineal RIGHT grouped by left polygon
        mixed_groups: dict[tuple[str, bytes], list[tuple[int, object]]] = {}
        partner_of: dict[object, object] = {}

        def push(groups_dict, key, partner_geom, i, member_geom):
            groups_dict.setdefault(key, []).append((i, member_geom))
            partner_of[key] = partner_geom

        seg_ok: dict[bytes, bool] = {}
        area_ok: dict[bytes, bool] = {}

        def pos_area(b):
            # degenerate zero-area polygons (a point or segment dressed as
            # a POLYGON) have empty interiors — the batch kernels' probe
            # logic and the scalar relate disagree on them, so they take
            # the scalar path (same posture as the lineal live-segment
            # guard)
            v = area_ok.get(b)
            if v is None:
                v = alg.area(geo(b)) > 0.0
                if len(area_ok) < 8192:
                    area_ok[b] = v
            return v

        def has_segs(b):
            # require a LIVE (non-zero-length) segment: a LINESTRING of
            # identical points is effectively 0-dim and must take the
            # scalar path (the batch kernel drops degenerate segments)
            v = seg_ok.get(b)
            if v is None:
                v = any(
                    len(a) >= 2
                    and bool(
                        (np.asarray(a)[:-1, :2] != np.asarray(a)[1:, :2]).any()
                    )
                    for a in alg._lines_of(geo(b))
                )
                if len(seg_ok) < 8192:
                    seg_ok[b] = v
            return v

        batchable = predicate in (
            "intersects", "contains", "within", "covers",
            "overlaps", "touches", "crosses",
        )

        for i in rest:
            if lbytes[i] is None or rbytes[i] is None:
                out[i] = None
                continue
            lb = rect(lbytes[i])
            if lb is not None:
                rb = rect(rbytes[i])
                if rb is not None:
                    v = _rect_pair_predicate(predicate, lb, rb)
                    if v is not None:
                        out[i] = v
                        continue
            if batchable:
                lg, rg = geo(lbytes[i]), geo(rbytes[i])
                lt, rt = lg.gtype, rg.gtype
                if (
                    predicate == "intersects"
                    and lt in areal_types
                    and rt in areal_types
                    and pos_area(lbytes[i])
                    and pos_area(rbytes[i])
                ):
                    push(areal_groups, rbytes[i], rg, i, lg)
                    continue
                if (
                    lt in lineal_types
                    and has_segs(lbytes[i])
                    and (
                        (rt in areal_types and pos_area(rbytes[i]))
                        or (rt in lineal_types and has_segs(rbytes[i]))
                    )
                ):
                    push(mixed_groups, ("l", rbytes[i]), rg, i, lg)
                    continue
                if (
                    lt in areal_types
                    and pos_area(lbytes[i])
                    and rt in lineal_types
                    and has_segs(rbytes[i])
                ):
                    push(mixed_groups, ("r", lbytes[i]), lg, i, rg)
                    continue
            out[i] = bool(fn(geo(lbytes[i]), geo(rbytes[i])))
        for (side, key), entries in mixed_groups.items():
            members = [g for _, g in entries]
            partner = partner_of[(side, key)]
            verdict = lineal_predicate_batch(
                members,
                partner,
                predicate,
                lineal_side="left" if side == "l" else "right",
            )
            for k, (i, _) in enumerate(entries):
                out[i] = bool(verdict[k])
        for rb_key, entries in areal_groups.items():
            verdict = areal_intersects_batch([g for _, g in entries], partner_of[rb_key])
            for k, (i, _) in enumerate(entries):
                out[i] = bool(verdict[k])
        return pd.Series(out, dtype=object)

    return pred


def _pairwise_predicate_udf(predicate: str):
    """Arrow pandas UDF over (left_wkb, right_wkb) pairs — see
    _pairwise_predicate_fn for the batching strategy."""
    from pyspark.sql.types import BooleanType

    return F.pandas_udf(_pairwise_predicate_fn(predicate), BooleanType())


def _with_envelope(df: DataFrame, geom_col: str, prefix: str) -> DataFrame:
    """Ensure minx/miny/maxx/maxy columns exist (from the index job or
    computed on the fly)."""
    have = {"minx", "miny", "maxx", "maxy"}.issubset(set(df.columns))
    if have:
        return df
    from ..geom.vectorized import bounds_many
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        df.schema.fields
        + [StructField(c, DoubleType()) for c in ("minx", "miny", "maxx", "maxy")]
    )

    def add(batches):
        for pdf in batches:
            b = bounds_many([None if v is None else bytes(v) for v in pdf[geom_col]])
            pdf["minx"], pdf["miny"], pdf["maxx"], pdf["maxy"] = (
                b[:, 0],
                b[:, 1],
                b[:, 2],
                b[:, 3],
            )
            yield pdf

    return df.mapInPandas(add, schema=schema)


def _shuffle_partitions(spark) -> int:
    """`spark.sql.shuffle.partitions` as an int — some deployments set the
    AQE-style "auto", which must fall back to defaultParallelism rather
    than throw out of the salt probe."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    how: str = "inner",
    bits: int = DEFAULT_JOIN_BITS,
    left_geom: str = "geom_wkb",
    right_geom: str = "geom_wkb",
    broadcast: bool | None = None,
    salt: int | None = None,
    left_key: str | None = None,
) -> DataFrame:
    """Spatial join two DataFrames on an exact geometry predicate.

    Returns left columns + right columns (right ones suffixed `_r` on name
    clash). `how`: inner | left (outer, null right columns for unmatched
    lefts) | left_semi | left_anti (the reference supports inner only,
    SQLRules.scala:316).

    `left_key` (default: the left DataFrame's first column) MUST be
    row-unique on the left side for `how` = left / left_semi / left_anti:
    those modes identify (un)matched left rows by an equi-(anti-)join on
    this key, so a non-matching left row that SHARES a key with any
    matching row is treated as matched (silently dropped from `left`'s
    output, in the outer case). Deduplicate the left side or pass a truly
    identifying column; the engine does not scan for duplicates because
    that would cost a count-distinct pass over the full left input.
    """
    if predicate not in ("intersects", "contains", "within", "covers", "overlaps", "crosses", "touches", "equals"):
        raise ValueError(f"unsupported predicate {predicate}")

    # r9: a small single-file scan arrives as ONE input split, and the
    # broadcast-join path PRESERVES input partitioning — so the envelope
    # UDF, the cell cover, the join and the exact refine all ran on one
    # core (measured sf1.0: the whole track_region_hits join+refine, 286k
    # candidate pairs, took 23 s single-threaded). _ensure_parallel
    # round-robins only the few-split case; true at-scale inputs arrive
    # with thousands of splits and are left untouched (guide §2).
    from ..plans.partitioning import _ensure_parallel

    left = _ensure_parallel(left)
    if broadcast is not True:
        right = _ensure_parallel(right)

    L = _with_envelope(left, left_geom, "l")
    R = _with_envelope(right, right_geom, "r")

    # rename to avoid ambiguity
    lcols = [F.col(c).alias(f"l_{c}") if c in ("minx", "miny", "maxx", "maxy") else F.col(c) for c in L.columns]
    overlap = set(L.columns)
    L2 = L.select(*lcols)
    rsel = []
    for c in R.columns:
        if c in ("minx", "miny", "maxx", "maxy"):
            rsel.append(F.col(c).alias(f"r_{c}"))
        elif c in overlap:
            rsel.append(F.col(c).alias(f"{c}_r"))
        else:
            rsel.append(F.col(c))
    R2 = R.select(*rsel)

    L3 = _with_join_cells(L2, "l_", bits)
    R3 = _with_join_cells(R2, "r_", bits)

    if broadcast is None:
        # automatic broadcast-vs-sort-merge selection (north rule): broadcast
        # the exploded right side when it is small enough to ship to every
        # executor; otherwise let Spark pick hash/sort-merge on the cell key.
        try:
            # probe the RAW right input (1:1 with R): limit+count early-stops
            # and never executes the envelope UDF, so the probe job is a
            # cheap scan rather than a full second execution of R's lineage
            n = right.limit(_BROADCAST_MAX_ROWS + 1).count()
            broadcast = n <= _BROADCAST_MAX_ROWS
        except Exception:
            broadcast = False
    join_keys = ["join_cell"]
    # a broadcast hash join has no shuffle skew to split: it never salts
    if salt and not broadcast:
        # ADAPTIVE salting: a single hot cell is one join KEY, which AQE skew
        # handling cannot split — so find cells holding more rows than an
        # average shuffle partition and subdivide only those `salt` ways
        # (left rows hash-salted; right rows replicated). Cold cells pay
        # nothing. Reference analog: shard-byte key prefixes (ShardStrategy)
        # + RTREE/WEIGHTED partitioning; this is strictly more targeted.
        n_shuffle = _shuffle_partitions(left.sparkSession)
        # hot-cell detection needs only approximate counts: probe a 2% SAMPLE
        # of the left side — the total-row estimate comes from the SAME
        # sample (sum of cell counts / fraction), so salting costs ONE probe
        # job and no full count pass. A cell misclassified near the threshold
        # is harmless (salting never changes results, only partitioning).
        frac = 0.02
        probe_src = L2.sample(fraction=frac, seed=42)
        # ONE probe job returns both the sample total and the candidate hot
        # cells: only cells that could clear the 10k-row floor are collected
        # (bounds the driver list even at fine grids), and no cell that could
        # be hot is dropped since thresh >= 10000 always
        floor_cnt = int(10000 * frac)
        agg = (
            _with_join_cells(probe_src, "l_", bits)
            .groupBy("join_cell")
            .count()
            .agg(
                F.sum("count").alias("_tot"),
                F.collect_list(
                    F.when(
                        F.col("count") > floor_cnt,
                        F.struct("join_cell", "count"),
                    )
                ).alias("_cands"),
            )
            .first()
        )
        sample_total = int(agg["_tot"] or 0)
        est_total = sample_total / frac
        thresh = max(10000, int(2 * est_total) // max(1, n_shuffle))
        hot = [c["join_cell"] for c in agg["_cands"] if c["count"] > thresh * frac]
        if hot:
            is_hot_l = F.col("join_cell").isin(hot)
            L3 = L3.withColumn(
                "_salt",
                F.when(
                    is_hot_l,
                    F.pmod(F.xxhash64(F.col("l_minx"), F.col("l_miny")), F.lit(salt)),
                ).otherwise(F.lit(0)),
            )
            R3 = R3.withColumn(
                "_salt",
                F.explode(
                    F.when(
                        F.col("join_cell").isin(hot),
                        F.array(*[F.lit(i) for i in range(salt)]),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            join_keys = ["join_cell", "_salt"]

    right_side = F.broadcast(R3) if broadcast else R3

    bbox_overlap = (
        (F.col("l_minx") <= F.col("r_maxx"))
        & (F.col("l_maxx") >= F.col("r_minx"))
        & (F.col("l_miny") <= F.col("r_maxy"))
        & (F.col("l_maxy") >= F.col("r_miny"))
    )

    joined = L3.join(right_side, on=join_keys, how="inner").filter(
        bbox_overlap & _ref_cell_cond(bits)
    )

    pred_udf = _pairwise_predicate_udf(predicate)
    rgeom = right_geom if right_geom not in overlap else f"{right_geom}_r"
    exact = joined.filter(pred_udf(F.col(left_geom), F.col(rgeom)))

    drop = ["l_minx", "l_miny", "l_maxx", "l_maxy", "r_minx", "r_miny", "r_maxx", "r_maxy"]
    result = exact.drop(*drop, *join_keys)

    if how == "inner":
        return result
    if how in ("left_semi", "left_anti"):
        key = left_key or left.columns[0]
        keys = result.select(key).dropDuplicates()
        return left.join(keys, on=key, how=how)
    if how == "left":
        # left-outer: matching pairs + one null-right row per unmatched
        # left (beyond the reference's inner-only join planner). The
        # unmatched side is an anti join on the left key — no second
        # spatial pass.
        key = left_key or left.columns[0]
        keys = result.select(key).dropDuplicates()
        missing = left.join(keys, on=key, how="left_anti")
        for f in result.schema.fields:
            if f.name not in missing.columns:
                missing = missing.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        return result.unionByName(missing.select(result.columns))
    raise ValueError(f"unsupported how={how}")


_POLAR_NORTH, _POLAR_SOUTH = 2_000_000_000, -2_000_000_000  # sentinel jcy


def _cell_struct(x, y):
    return F.struct(x.alias("jcx"), y.alias("jcy"))


def _distance_cell_cover(meters: float, lx, ly):
    """Array<struct(jcx,jcy)> of grid cells a LEFT distance_join row must
    probe: (2k+1) x 3 cells with k = ceil(dlon/cell) — 9 at mid-latitudes —
    or ONE polar sentinel for pole-touching rows. Module-level so the
    explode factor is assertable in tests (test_distance_join)."""
    import math

    from ..geom.algorithms import EARTH_MEAN_RADIUS_M

    d_deg = math.degrees(meters / EARTH_MEAN_RADIUS_M)
    cell = max(d_deg, 1e-4)
    n_lon = int(math.ceil(360.0 / cell))
    cx = F.floor((lx + 180.0) / F.lit(cell)).cast("long")
    cy = F.floor((ly + 90.0) / F.lit(cell)).cast("long")
    # exact disc lon half-width at this latitude (spherical-cap bbox rule);
    # pole-touching rows never reach this branch (sentinel path below)
    clat = F.cos(F.radians(ly))
    dlon = F.degrees(
        F.asin(
            F.least(F.lit(1.0), F.lit(math.sin(meters / EARTH_MEAN_RADIUS_M)) / clat)
        )
    )
    # lon neighbor count: ceil(dlon/cell) is exact for non-wrapping pairs
    # (|u1-u2| <= k implies |floor(u1)-floor(u2)| <= k), but the cell ring
    # spans n_lon*cell >= 360 deg — the wrap from cell n_lon-1 to cell 0
    # jumps a PHANTOM gap of up to one cell, so a pair straddling the
    # antimeridian can sit k+1 ring-cells apart. Rows whose window touches
    # the seam take the +1; mid-longitude rows keep the tight cover.
    # Clamped at half the ring (beyond it the pmod wrap adds nothing).
    k0 = F.ceil(dlon / F.lit(cell))
    seam = (cx <= k0) | (cx >= F.lit(n_lon - 1) - k0)
    k = F.least(
        k0 + F.when(seam, F.lit(1)).otherwise(F.lit(0)), F.lit(n_lon // 2 + 1)
    ).cast("int")
    normal_cells = F.flatten(
        F.transform(
            F.array_distinct(
                F.transform(
                    F.sequence(-k, k), lambda d: F.pmod(cx + d, F.lit(n_lon))
                )
            ),
            lambda jx: F.transform(
                F.sequence(cy - 1, cy + 1), lambda jy: _cell_struct(jx, jy)
            ),
        )
    )
    north_l = ly + F.lit(d_deg) >= F.lit(90.0)
    south_l = ly - F.lit(d_deg) <= F.lit(-90.0)

    def sent(jy):
        return F.array(_cell_struct(F.lit(-1).cast("long"), F.lit(jy).cast("long")))

    return (
        F.when(north_l, sent(_POLAR_NORTH))
        .when(south_l, sent(_POLAR_SOUTH))
        .otherwise(normal_cells)
    )


def _distance_cell_cover_right(meters: float, rx, ry):
    """Array<struct(jcx,jcy)> for a RIGHT distance_join row: its own grid
    cell, plus each polar sentinel it is reachable from (within 2*d_deg of
    that pole — the only rows a pole-touching left can match)."""
    import math

    from ..geom.algorithms import EARTH_MEAN_RADIUS_M

    d_deg = math.degrees(meters / EARTH_MEAN_RADIUS_M)
    cell = max(d_deg, 1e-4)
    n_lon = int(math.ceil(360.0 / cell))
    r_normal = _cell_struct(
        F.pmod(F.floor((rx + 180.0) / F.lit(cell)).cast("long"), F.lit(n_lon)),
        F.floor((ry + 90.0) / F.lit(cell)).cast("long"),
    )
    return F.filter(
        F.array(
            r_normal,
            F.when(
                ry + F.lit(2.0 * d_deg) >= F.lit(90.0),
                _cell_struct(F.lit(-1).cast("long"), F.lit(_POLAR_NORTH).cast("long")),
            ),
            F.when(
                ry - F.lit(2.0 * d_deg) <= F.lit(-90.0),
                _cell_struct(F.lit(-1).cast("long"), F.lit(_POLAR_SOUTH).cast("long")),
            ),
        ),
        lambda c: c.isNotNull(),
    )


def distance_join(
    left: DataFrame,
    right: DataFrame,
    meters: float,
    left_lon: str = "x",
    left_lat: str = "y",
    right_lon: str = "x",
    right_lat: str = "y",
) -> DataFrame:
    """Geodesic distance-bounded pair join for two POINT tables — st_dwithin
    as a JOIN predicate (the reference's join planner accepts st_dwithin
    conditions, SQLRules.scala join-rewrite path; this is the batch sibling
    of streaming.stream_stream_proximity_join, same provable cell cover).

    Plan: both sides key on a lat/lon grid whose cell width is the angular
    radius; the LEFT side explodes to the latitude-aware neighbor cells
    (exact asin(sin r/cos lat) lon bound, ceil(dlon/cell) lon cells and +-1
    lat cells — |dlat| <= d_deg <= cell, so one lat cell of slack is exact,
    and |floor(u1)-floor(u2)| <= k whenever |u1-u2| <= k makes
    k = ceil(dlon/cell) exact for the lon axis: a 3x3 cover at
    mid-latitudes, vs the 5x5 the first version shipped), the RIGHT keeps
    its single cell, so each qualifying pair meets in EXACTLY one bucket
    (no dedup); one shuffle equi-join, exact haversine refine, all columns
    codegen'd — no Python in the join at all.

    Pole handling: a left disc that reaches a pole would need the FULL lon
    ring (up to 2*ceil(180/cell)+1 cells — millions for metre-scale radii,
    an executor-OOM skew risk). Those rows instead emit a single polar
    sentinel bucket (jcx=-1, impossible for pmod cells); right rows within
    2*d_deg of a pole — the only ones a pole-touching left can match —
    additionally emit that sentinel. Each qualifying pair still meets
    exactly once: a pole-touching left emits exactly ONE sentinel (north
    wins when the disc spans both poles, only possible at d_deg >= 90), a
    non-polar left never emits one, and a right emits each sentinel at
    most once.

    Returns left columns + right columns (right renamed `r_<name>` on
    clash) + dist_m."""
    from ..plans.partitioning import _ensure_parallel
    from .knn import haversine_col

    # single-split scans otherwise run the (interpreted, per-element) cell
    # cover explode and the whole shuffle-map stage on one core (guide §2)
    left = _ensure_parallel(left)
    right = _ensure_parallel(right)

    overlap = set(left.columns) & set(right.columns)
    R = right.select(
        *[F.col(c).alias(f"r_{c}") if c in overlap else F.col(c) for c in right.columns]
    )
    r_lon = f"r_{right_lon}" if right_lon in overlap else right_lon
    r_lat = f"r_{right_lat}" if right_lat in overlap else right_lat

    lx, ly = F.col(left_lon), F.col(left_lat)
    rx, ry = F.col(r_lon), F.col(r_lat)
    l_cells = _distance_cell_cover(meters, lx, ly)
    L = (
        left.withColumn("_jc", F.explode(l_cells))
        .withColumn("jcx", F.col("_jc.jcx"))
        .withColumn("jcy", F.col("_jc.jcy"))
        .drop("_jc")
    )
    r_cells = _distance_cell_cover_right(meters, rx, ry)
    Rk = (
        R.withColumn("_jc", F.explode(r_cells))
        .withColumn("jcx", F.col("_jc.jcx"))
        .withColumn("jcy", F.col("_jc.jcy"))
        .drop("_jc")
    )
    dist = haversine_col(lx, ly, rx, ry)
    return (
        L.join(Rk, ["jcx", "jcy"])
        .filter(dist <= F.lit(float(meters)))
        .withColumn("dist_m", dist)
        .drop("jcx", "jcy")
    )

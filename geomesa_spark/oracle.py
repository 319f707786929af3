"""Portable-SQL generators for spatial math.

These emit plain ANSI SQL (runs in DuckDB and Spark alike) for the arithmetic
kernels the engine implements natively: ray-cast point-in-polygon, haversine,
slippy tiles, grid snap, Morton interleave. Used to build the DuckDB oracle
queries in __spark_entry__ (the driver's correctness gate) — every expression
is pure IEEE-double arithmetic evaluated identically by both engines."""

from __future__ import annotations

EARTH_R = "6371008.7714"  # reference mean radius (GeometricProcessingFunctions.scala:60)


def raycast_sql(poly: list[tuple[float, float]], lon: str, lat: str) -> str:
    """Even-odd crossing-number point-in-polygon as an unrolled SQL predicate.
    `poly` is a closed or open ring; edges must not be axis-aligned through
    data lattice points (boundary ties undefine even-odd)."""
    ring = list(poly)
    if ring[0] == ring[-1]:
        ring = ring[:-1]
    terms = []
    n = len(ring)
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        terms.append(
            f"(case when (({ay} > {lat}) <> ({by} > {lat})) and "
            f"({lon} < ({bx} - {ax}) * ({lat} - {ay}) / ({by} - {ay}) + {ax}) "
            f"then 1 else 0 end)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Great-circle meters, same formula as knn.haversine_col."""
    return (
        f"(2 * {EARTH_R} * asin(least(1.0, sqrt("
        f"power(sin((radians({lat2}) - radians({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"power(sin((radians({lon2}) - radians({lon1})) / 2), 2)))))"
    )


def tile_x_sql(lon: str, zoom: int) -> str:
    n = 2**zoom
    return f"greatest(0, least(cast(floor(({lon} + 180.0) / 360.0 * {float(n)}) as bigint), {n - 1}))"


def tile_y_sql(lat: str, zoom: int) -> str:
    n = 2**zoom
    clamped = f"greatest(-85.0511287798066, least({lat}, 85.0511287798066))"
    return (
        f"greatest(0, least(cast(floor((1.0 - ln(tan(radians({clamped})) + "
        f"1.0 / cos(radians({clamped}))) / pi()) / 2.0 * {float(n)}) as bigint), {n - 1}))"
    )


def grid_i_sql(expr: str, vmin: float, vmax: float, size: int) -> str:
    """GridSnap column index; ONLY exact when (vmax-vmin)/size is a binary
    rational (e.g. world grid at power-of-two sizes)."""
    dx = (vmax - vmin) / size
    return (
        f"(case when {expr} >= {vmin} and {expr} <= {vmax} then "
        f"least(cast(floor(({expr} - ({vmin})) / {dx!r}) as bigint), {size - 1}) "
        f"else -1 end)"
    )


def interleave_sql(ix: str, iy: str, bits: int) -> str:
    """Morton interleave of two non-negative ints, unrolled shifts/ands."""
    terms = []
    for b in range(bits):
        terms.append(f"((({ix} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({iy} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


def cell_sql(lon: str, lat: str, bits: int) -> str:
    """Coarse Z2 partition cell id — matches sources.docs.index_points_df
    exactly (exact binary divisors 360/2^b, 180/2^b)."""
    n = 2**bits
    dx, dy = 360.0 / n, 180.0 / n
    ix = f"greatest(0, least(cast(floor(({lon} + 180.0) / {dx!r}) as bigint), {n - 1}))"
    iy = f"greatest(0, least(cast(floor(({lat} + 90.0) / {dy!r}) as bigint), {n - 1}))"
    return interleave_sql(f"({ix})", f"({iy})", bits)


# ---------------------------------------------------- LSH / dedup SQL mirrors


def cosine_sql(a: str, b: str) -> str:
    """Exact cosine of two list columns (DuckDB list comprehension form)."""
    def dot(x, y):
        return (
            f"list_sum([cast({x}[__ci] as double) * cast({y}[__ci] as double) "
            f"for __ci in range(1, len({x})+1)])"
        )

    return f"({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"


def rp_proj_sql(vec: str, signs_row) -> str:
    """Dot product of a list column with a LITERAL +-1 sign row — the bit
    projections of similarity.rp_bucket_ids. The literal list is zipped with
    the vector ONCE: indexing it inside the comprehension makes DuckDB
    rebuild the whole literal for every element."""
    lits = "[" + ", ".join(f"{float(s):.1f}" for s in signs_row) + "]"
    return (
        f"list_sum([cast(__p[1] as double) * __p[2] "
        f"for __p in list_zip({vec}, {lits})])"
    )


def rp_bucket_sql(vec: str, signs_2d) -> str:
    """LSH bucket id from literal hyperplane signs (shape (bits, dim))."""
    terms = [
        f"(case when ({rp_proj_sql(vec, row)}) > 0 then {1 << b} else 0 end)"
        for b, row in enumerate(signs_2d)
    ]
    return "(" + " + ".join(terms) + ")"


def token_hashes_sql(text: str) -> str:
    """Whitespace tokens -> 60-bit md5-derived hashes; mirrors the token
    hashes of dedup._simhash_text_udf and its Column form
    tests/dedup_mirrors.token_hashes_col (Spark conv(substring(md5(t),3,15),
    16,10))."""
    th = (
        "list_sum([(strpos('0123456789abcdef', substr(md5(__tk), 2+__hj, 1)) - 1)::BIGINT"
        " << (4*(15-__hj)) for __hj in range(1, 16)])"
    )
    return f"[{th} for __tk in string_split(lower({text}), ' ')]"


def simhash_from_hashes_sql(hashes: str, bits: int = 60) -> str:
    """token-hash list -> simhash signature; mirrors
    tests/dedup_mirrors.simhash_from_hashes.
    `hashes` should be a (CTE) column so tokens are hashed once, not per bit."""
    return (
        f"cast(list_sum([case when "
        f"list_sum([((__h >> __b) & 1)*2 - 1 for __h in {hashes}]) > 0 "
        f"then 1::BIGINT << __b else 0::BIGINT end "
        f"for __b in range(0, {bits})]) as bigint)"
    )


def jaccard_shingles_sql(table: str, text_col: str = "text", k: int = 3) -> str:
    """CTE body producing (doc_id, <cols>, s = distinct k-shingle list)."""
    return (
        f"select *, list_distinct([substr(lower({text_col}), __si, {k}) "
        f"for __si in range(1, greatest(length({text_col})-{k - 2}, 2))]) as s "
        f"from {table}"
    )


# Deterministic derived geometry: the documents/events tables carry no
# coordinates, so both engines derive them with IDENTICAL integer-modulo
# arithmetic (BASELINE.json input_hint: synthesize deterministically).
# NB: plain `100.0` literals parse as DECIMAL in both Spark and DuckDB SQL —
# exponent form (`1e2`) forces DOUBLE so both engines use identical IEEE math.
DOC_LON = "((((doc_id * 7919) % 36000) / 1e2) - 1.8e2)"
DOC_LAT = "((((doc_id * 104729) % 18000) / 1e2) - 9e1)"
EVENT_LON = "((((event_id * 48271) % 36000) / 1e2) - 1.8e2)"
EVENT_LAT = "((((event_id * 16807) % 18000) / 1e2) - 9e1)"

# rectangular poly parts derived from the part table (axis-aligned, so bbox
# logic is exact in SQL)
PART_CX = "((((p_partkey * 7919) % 33000) / 1e2) - 1.65e2)"
PART_CY = "((((p_partkey * 104729) % 15000) / 1e2) - 7.5e1)"
PART_HW = "(2e0 + (p_partkey % 97) * 8e0 / 9.7e1)"  # half-width 2..10 deg
PART_HH = "(1e0 + (p_partkey % 53) * 4e0 / 5.3e1)"  # half-height 1..5 deg


def lit_dot_sql(vec: str, row) -> str:
    """Dot product of a list column with a LITERAL double vector (full-
    precision repr so DuckDB parses the identical doubles numpy holds)."""
    lits = "[" + ", ".join(repr(float(v)) for v in row) + "]"
    return (
        f"list_sum([cast({vec}[__di] as double) * ({lits})[__di] "
        f"for __di in range(1, {len(row) + 1})])"
    )


def ivf_assign_sql(vec: str, centroids) -> str:
    """Nearest-centroid index (0-based) by rounded dot product — mirrors
    similarity.ivf_assign_udf (round to 9 decimals, first-max tie rule:
    numpy argmax and DuckDB list_position both take the first maximum)."""
    dots = ", ".join(f"round({lit_dot_sql(vec, c)}, 9)" for c in centroids)
    return (
        f"(list_position(list_value({dots}), list_max(list_value({dots}))) - 1)"
    )

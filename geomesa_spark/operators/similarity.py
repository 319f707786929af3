"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline; random-hyperplane LSH
bucketing as the 100TB scale path (bucket equi-join instead of cross join).
Dot products run as one numpy matmul per Arrow batch: Spark's
higher-order-function lambdas (zip_with + aggregate) are interpreted per
element, far too slow for the scan hot paths.

Top-k is orderBy + limit — Spark plans it as TakeOrderedAndProject (each
partition keeps its local k, the driver merges), NOT a global window, which
would move every row to a single partition.

Hyperplanes are LITERAL +-1 sign vectors drawn from a seeded generator
(`hyperplane_signs`) — deterministic, engine-independent, and expressible in
plain SQL (see oracle.rp_bucket_sql), so LSH results are verifiable against
an independent engine bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Distributed top-k: orderBy+limit -> TakeOrderedAndProject (per-partition
    local k, merged on the driver); the rank window then runs over ONLY the k
    surviving rows, never the full table."""
    top = scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w)).select(id_col, "score", "rank")


def cosine_query_udf(query_vec):
    """Exact cosine vs a FIXED query vector: one numpy matmul per Arrow batch
    — the scan-scoring hot path (the Column form interprets ~2*dim lambda
    calls per row; the matmul is one BLAS call per batch)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    def f(vecs):  # no hints (local-import annotations trap)
        out = np.full(len(vecs), np.nan)
        ok = [i for i in range(len(vecs)) if vecs.iloc[i] is not None]
        if ok:
            M = np.stack([np.asarray(vecs.iloc[i], dtype=np.float64) for i in ok])
            out[ok] = (M @ q) / (np.linalg.norm(M, axis=1) * qn)
        s = pd.Series(out)
        return s.where(~np.isnan(out), None).astype(object)

    return F.pandas_udf(f, DoubleType())


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k vs one query vector: one scan, one top-k reduce
    (no shuffle of the vectors themselves). Scoring is a batched numpy
    matmul (cosine_query_udf); oracle.cosine_sql is its SQL mirror."""
    scored = df.select(
        F.col(id_col),
        F.round(cosine_query_udf(query_vec)(F.col(vec_col)), 6).alias("score"),
    )
    return _topk(scored, k, id_col)


# ------------------------------------------------------ literal RP hyperplanes


def hyperplane_signs(
    dim: int, bits: int, tables: int = 1, seed: int = 42
) -> np.ndarray:
    """Deterministic +-1 hyperplane signs, shape (tables, bits, dim). These are
    plan-time LITERALS: the same matrix drives rp_bucket_ids and is inlined
    into the DuckDB oracle SQL, so bucket assignment is engine-independent."""
    rng = np.random.default_rng(seed)
    return rng.choice([-1.0, 1.0], size=(tables, bits, dim))


def rp_bucket_ids(M: np.ndarray, signs: np.ndarray) -> np.ndarray:
    """LSH bucket ids of the rows of M (n x dim) for literal sign hyperplanes
    of shape (tables, bits, dim): (n, tables), where bit b of table t is the
    sign of dot(row, signs[t, b]). ONE matmul over all tables x bits
    projections."""
    T, B, D = signs.shape
    W = signs.reshape(T * B, D).T.copy()  # (dim, tables*bits)
    proj = M @ W  # (n, tables*bits)
    bits = (proj > 0).astype(np.int64).reshape(len(M), T, B)
    return (bits * (np.int64(1) << np.arange(B, dtype=np.int64))).sum(axis=2)


def rp_buckets_udf(signs: np.ndarray):
    """All `tables` LSH buckets of an embedding (rp_bucket_ids) in ONE
    Arrow-batched matmul. Spark's higher-order-function lambdas
    (aggregate/zip_with) are interpreted per-row, so for tables x bits
    projections the batched numpy path is the fast one; oracle.rp_bucket_sql
    is the SQL mirror (bit-identical except for degenerate |proj| < ~1e-12
    ties, summation order)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    D = signs.shape[2]

    def f(vecs):  # no hints (local-import annotations trap)
        mask = vecs.map(lambda v: v is not None and len(v) == D)
        out = np.empty(len(vecs), dtype=object)
        if mask.any():
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
            )  # (n, dim)
            vals = iter(rp_bucket_ids(M, signs))
            for i in np.nonzero(mask.to_numpy())[0]:
                out[i] = next(vals).tolist()
        return pd.Series(out, dtype=object)

    return F.pandas_udf(f, ArrayType(LongType()))


# ------------------------------------------------------------------ IVF ANN


def random_codebook(dim: int, n_centroids: int = 16, seed: int = 7) -> np.ndarray:
    """Deterministic unit-norm codebook (a data-independent coarse
    quantizer). Like hyperplane_signs, these are plan-time LITERALS: the same
    matrix drives ivf_assign_udf and is inlined into the DuckDB oracle SQL,
    so IVF assignment is engine-independent and gate-checkable."""
    rng = np.random.default_rng(seed)
    C = rng.normal(size=(n_centroids, dim))
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 10,
    sample_n: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> np.ndarray:
    """Train a spherical k-means coarse quantizer on a DETERMINISTIC sample
    (the sample_n lowest ids — reproducible across runs/engines). Driver-side
    numpy: the codebook is tiny (n_centroids x dim); the expensive part at
    scale is assignment, which stays a distributed one-matmul pass."""
    rows = df.orderBy(F.col(id_col)).limit(sample_n).select(vec_col).collect()
    X = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows if r[0] is not None])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=n_centroids, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_centroids):
            m = assign == c
            if m.any():
                v = X[m].sum(axis=0)
            else:  # deterministic empty-cluster reseed: farthest point
                v = X[np.argmin((X @ C.T).max(axis=1))]
            C[c] = v / max(np.linalg.norm(v), 1e-12)
    return C


def ivf_assign_udf(centroids: np.ndarray):
    """vector -> nearest-centroid index by dot product, one matmul per Arrow
    batch. Dots are rounded to 9 decimals before the argmax so the first-max
    tie rule matches the DuckDB literal-centroid mirror (summation-order fp
    noise ~1e-15 cannot flip the assignment)."""
    import pandas as pd
    from pyspark.sql.types import IntegerType

    C = np.asarray(centroids, dtype=np.float64).T  # (dim, n_centroids)

    def f(vecs):  # no hints (local-import annotations trap)
        out = np.full(len(vecs), -1, dtype=np.int32)
        ok = [i for i in range(len(vecs)) if vecs.iloc[i] is not None]
        if ok:
            M = np.stack([np.asarray(vecs.iloc[i], dtype=np.float64) for i in ok])
            out[ok] = np.argmax(np.round(M @ C, 9), axis=1)
        s = pd.Series(out)
        return s.where(out >= 0, None).astype(object)

    return F.pandas_udf(f, IntegerType())


def ann_topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> DataFrame:
    """IVF approximate top-k: assign every vector to its nearest codebook
    centroid (one matmul pass), scan ONLY the nprobe cells nearest the
    query. At scale the table is written partitioned/bucketed by the cell
    id, so the probe prunes partitions — the classic IVF layout (inverted
    file, Jegou et al., TPAMI'11) expressed as partition pruning. Pass
    centroids= a trained ivf_centroids codebook, or omit for the
    deterministic random codebook (SQL-mirrorable literals)."""
    if centroids is None:
        centroids = random_codebook(len(query_vec), n_centroids, seed)
    qv = np.asarray(query_vec, dtype=np.float64)
    qd = np.round(centroids @ qv, 9)
    # stable sort: equal dots break by centroid index (mirrors the SQL
    # row_number() over (order by d desc, i asc) probe ranking)
    probe = [int(i) for i in np.argsort(-qd, kind="stable")[:nprobe]]
    cand = df.withColumn("_ivf", ivf_assign_udf(centroids)(F.col(vec_col))).filter(
        F.col("_ivf").isin(probe)
    )
    scored = cand.select(
        F.col(id_col),
        F.round(cosine_query_udf(query_vec)(F.col(vec_col)), 6).alias("score"),
    )
    return _topk(scored, k, id_col)


def ivf_probe_udf(centroids: np.ndarray, nprobe: int):
    """vector -> the `nprobe` nearest centroid ids as an array, one matmul
    per Arrow batch. Ranking is (dot desc, centroid index asc) on round-9
    dots — identical to the SQL probe ranking (row_number over (order by d
    desc, i asc)), so probe sets are engine-independent."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(centroids, dtype=np.float64).T  # (dim, n_centroids)

    def f(vecs):  # no hints (local-import annotations trap)
        out = np.empty(len(vecs), dtype=object)
        ok = [i for i in range(len(vecs)) if vecs.iloc[i] is not None]
        if ok:
            M = np.stack([np.asarray(vecs.iloc[i], dtype=np.float64) for i in ok])
            d = np.round(M @ C, 9)  # (n, n_centroids)
            # stable argsort of -d: equal dots break by centroid index asc
            order = np.argsort(-d, axis=1, kind="stable")[:, :nprobe]
            for row_i, probes in zip(ok, order):
                out[row_i] = [int(p) for p in probes]
        return pd.Series(out, dtype=object)

    return F.pandas_udf(f, ArrayType(IntegerType()))


def ann_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str = "embedding",
    q_id_col: str = "query_id",
    seed: int = 7,
    cell_salt: int = 1,
) -> DataFrame:
    """Top-k cosine neighbors for EVERY row of a query TABLE — the embedding
    analog of knn_join (the shape a 100 TB retrieval/dedup pipeline runs:
    batch ANN, not one vector at a time).

    Plan shape (all state in DataFrames, no driver loops):
      1. corpus rows get their IVF cell (`ivf_assign_udf`, one matmul per
         Arrow batch);
      2. query rows get their `nprobe` nearest cells (`ivf_probe_udf`, one
         matmul) and EXPLODE to (query_id, cell) — nprobe rows per query;
      3. COGROUP both sides by cell and score each (cell-block x
         probing-queries) pair with ONE BLAS matmul, keeping only the
         per-query per-cell top-k (a corpus row has exactly ONE cell, so a
         (query, doc) pair meets at most once — no dedup needed);
      4. global per-query top-k via a row_number window over <= nprobe*k
         rows per query, never the corpus.

    At scale: each corpus row crosses Arrow ONCE (its cell), each query row
    nprobe times — a pair equi-join instead would ship |cell|x|probers|
    rows each carrying both vectors (13 GB at 200k x 1k x nprobe 4/64).
    Memory is bounded by the largest cell (the IVF analog of the join
    grid's hot-cell envelope): train the codebook for balance, raise
    n_centroids, or set cell_salt=s to hash-split every cell s ways —
    corpus rows land in one subcell, queries probe all s, results are
    IDENTICAL (tested) and the largest cogroup block shrinks s-fold (the
    same move as the spatial join's hot-cell salting). The persisted
    layout (`write_ivf_indexed` + `ann_join_scan`) adds partition pruning
    for the probe set.

    Reference-shape analog: the cell-ring kNN join (knn.knn_join) proven on
    point geometries; centroid cells replace grid cells."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    if centroids is None:
        centroids = random_codebook(_vec_dim(queries, q_vec_col), n_centroids, seed)
    corp = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        ivf_assign_udf(centroids)(F.col(vec_col)).alias("_cell"),
    ).filter(F.col("_cell").isNotNull())
    qx = queries.select(
        F.col(q_id_col).alias("query_id"),
        F.col(q_vec_col).alias("_qv"),
        F.explode(ivf_probe_udf(centroids, nprobe)(F.col(q_vec_col))).alias("_cell"),
    )
    # COGROUP-BY-CELL BLOCK MATMUL, not a pair join: a pair join would ship
    # |corpus-in-probed-cells| x |queries-probing-them| rows each carrying
    # BOTH vectors through Arrow (e.g. 200k corpus x 1k queries at nprobe
    # 4/64 = 12.5M pair rows = ~13 GB). Cogrouping moves every corpus row
    # across Arrow ONCE (its one cell) and every query row nprobe times;
    # scoring is one BLAS matmul per (cell-block x probing-queries), and
    # only the per-cell per-query top-k (<= nprobe*k rows per query) feeds
    # the global rank. Memory is bounded by the largest cell — the IVF
    # analog of the join grid's hot-cell envelope.
    if cell_salt > 1:
        corp = corp.withColumn(
            "_cell",
            F.col("_cell").cast("long") * cell_salt
            + F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(cell_salt)),
        )
        qx = (
            qx.withColumn("_s", F.explode(F.sequence(F.lit(0), F.lit(cell_salt - 1))))
            .withColumn("_cell", F.col("_cell").cast("long") * cell_salt + F.col("_s"))
            .drop("_s")
        )
    out_schema = StructType(
        [
            StructField("query_id", queries.schema[q_id_col].dataType),
            StructField("vec_id", corpus.schema[id_col].dataType),
            StructField("score", DoubleType()),
        ]
    )
    return _cogroup_topk_by_cell(corp, qx, "_cell", k, out_schema)


def _cogroup_topk_by_cell(corp, qx, cell_col: str, k: int, out_schema, dedup: bool = False):
    """Shared physical core of the batch-ANN joins: cogroup corpus
    (vec_id, _v, cell) with queries (query_id, _qv, cell) on the cell key,
    score each block with one BLAS matmul, keep the per-query per-cell
    top-k under the global (score desc, vec_id asc) rule — the union over
    probed cells then provably contains the global top-k — and rank."""
    import pandas as pd

    def score_cell(corp_pdf, q_pdf):
        if len(corp_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame({"query_id": [], "vec_id": [], "score": []})
        Cm = np.stack([np.asarray(v, dtype=np.float64) for v in corp_pdf["_v"]])
        Qm = np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf["_qv"]])
        cn = np.linalg.norm(Cm, axis=1)
        qn = np.linalg.norm(Qm, axis=1)
        S = np.round((Qm @ Cm.T) / np.outer(qn, cn), 6)  # (m, n)
        vec_ids = corp_pdf["vec_id"].to_numpy()
        kk = min(k, S.shape[1])
        rows_q, rows_v, rows_s = [], [], []
        order_v = np.argsort(vec_ids, kind="stable")
        for i in range(S.shape[0]):
            si = S[i][order_v]
            sel = np.argsort(-si, kind="stable")[:kk]
            idx = order_v[sel]
            rows_q.extend([q_pdf["query_id"].iloc[i]] * len(idx))
            rows_v.extend(vec_ids[idx])
            rows_s.extend(S[i][idx])
        return pd.DataFrame({"query_id": rows_q, "vec_id": rows_v, "score": rows_s})

    scored = (
        corp.select("vec_id", "_v", F.col(cell_col).alias("_cg_cell"))
        .groupBy("_cg_cell")
        .cogroup(
            qx.select("query_id", "_qv", F.col(cell_col).alias("_cg_cell")).groupBy(
                "_cg_cell"
            )
        )
        .applyInPandas(score_cell, schema=out_schema)
    )
    if dedup:
        # multi-table LSH: a pair meeting in several tables scores
        # identically in each — drop the copies before ranking
        scored = scored.dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def ann_join_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 6,
    tables: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str = "embedding",
    q_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Batch ANN via multi-table random-hyperplane LSH bucket equi-join —
    the data-independent alternative to ann_join's IVF cells (recall does
    not depend on the corpus having cluster structure; more tables = more
    recall, linearly more candidates).

    Scale shape: both sides compute all `tables` bucket ids in ONE Arrow
    matmul (rp_buckets_udf), posexplode to a combined (table, bucket) key,
    then COGROUP and block-matmul exactly like ann_join — each corpus row
    crosses Arrow once per table (not once per candidate pair), the
    per-bucket top-k bounds what reaches the global rank, and pairs that
    met in several tables (identical scores) dedupe before ranking.
    Hyperplanes are literal seeded sign matrices, so the whole pipeline is
    SQL-mirrorable."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    dim = _vec_dim(queries, q_vec_col)
    signs = hyperplane_signs(dim, bits, tables=tables, seed=seed)
    # one long key per (table, bucket): bucket < 2^bits by construction
    corp_b = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        F.posexplode(rp_buckets_udf(signs)(F.col(vec_col))).alias("_t", "_bkt"),
    ).select(
        "vec_id", "_v", (F.col("_t").cast("long") * (1 << bits) + F.col("_bkt")).alias("_cell")
    )
    q_b = queries.select(
        F.col(q_id_col).alias("query_id"),
        F.col(q_vec_col).alias("_qv"),
        F.posexplode(rp_buckets_udf(signs)(F.col(q_vec_col))).alias("_t", "_bkt"),
    ).select(
        "query_id", "_qv", (F.col("_t").cast("long") * (1 << bits) + F.col("_bkt")).alias("_cell")
    )
    out_schema = StructType(
        [
            StructField("query_id", queries.schema[q_id_col].dataType),
            StructField("vec_id", corpus.schema[id_col].dataType),
            StructField("score", DoubleType()),
        ]
    )
    return _cogroup_topk_by_cell(corp_b, q_b, "_cell", k, out_schema, dedup=True)


def synth_embeddings(
    spark, n: int, dim: int = 64, partitions: int = 32, id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic synthetic embedding table as ONE numpy pass per
    partition (mapInPandas over spark.range) — values are a fixed integer
    hash of (id, component), so any engine regenerates the identical table
    (the bench/scale fixture for the ANN family; no driver-side data)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            j = np.arange(dim, dtype=np.int64)
            # (n, dim) integer hash -> uniform [-0.5, 0.5); one vectorized op
            h = (ids[:, None] * 6364136223846793005 + j[None, :] * 1442695040888963407) % (1 << 31)
            m = h.astype(np.float64) / float(1 << 31) - 0.5
            yield pd.DataFrame(
                {id_col: ids, "embedding": [row.tolist() for row in m]}
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=schema)


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer embedding dimension from {vec_col}")
    return int(row["d"])


def ann_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    probes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's bucket and its
    `probes` nearest buckets (single-bit flips). At scale the table is
    bucketed/partitioned on the LSH key so this prunes partitions. The query
    bucket is computed driver-side in numpy (zero extra Spark jobs)."""
    qv = np.asarray(query_vec, dtype=np.float64)
    signs3 = hyperplane_signs(len(query_vec), bits, tables=1, seed=seed)
    qbucket = int(rp_bucket_ids(qv[None, :], signs3)[0, 0])
    buckets = [qbucket] + [qbucket ^ (1 << i) for i in range(min(probes, bits))]

    # bucket assignment + scoring are both single Arrow-batched matmuls
    # (oracle.rp_bucket_sql / oracle.cosine_sql are their SQL mirrors)
    bdf = df.withColumn("_bkt", F.get(rp_buckets_udf(signs3)(F.col(vec_col)), 0))
    cand = bdf.filter(F.col("_bkt").isin(buckets))
    scored = cand.select(
        F.col(id_col),
        F.round(cosine_query_udf(query_vec)(F.col(vec_col)), 6).alias("score"),
    )
    return _topk(scored, k, id_col)

"""Deduplication operators for large-scale training-data pipelines.

Exact (hash groupBy), n-gram Jaccard (MinHash-LSH candidate generation +
exact verify), MinHash+LSH (shingle -> minhash -> band -> bucket join),
SimHash (pigeonhole multi-block tables, full Hamming-<=h recall), and
embedding-cosine near-dup (multi-table random-hyperplane LSH). All
shuffle-aware: candidate generation is always a blocked/bucketed equi-join
or a per-bucket kernel — never a cross join — so the plan scales with
duplicate density, not n^2.

Scale notes:
- candidate pairs carry IDS ONLY through the bucket shuffle. The MinHash
  pipeline decides gather-vs-attach ONCE per call, from one size aggregate
  over the signature table: when the per-doc payloads the pairs are
  verified against (sig blobs, plus texts for exact verify) fit
  spark.geomesa.dedup.gatherMaxBytes, ONE driver gather (_gather) feeds
  both broadcasts; above that cap both stages re-attach the payloads with
  plain id joins (_attach). Each score (estimate, exact Jaccard) has ONE
  kernel, fed by either payload source. Embedding pairs are scored inside
  each LSH bucket, so vectors never ride a pair.
- MinHash bands and SimHash blocks share one bucket self-join
  (_bucket_self_join), its explode built as one SQL expression.
- n-gram Jaccard generates candidates with MinHash banding (miss probability
  (1-t^r)^b) and runs the exact Jaccard only on candidates. Default (r=8,
  b=16): selective enough that a self-similar corpus (mass of pairs at
  s~0.5-0.7) does not flood the candidate set, while s>=0.9 pairs are missed
  with prob <~1e-4 (verified 100% recall on the test corpora at both SFs).
- SimHash uses the pigeonhole construction: with (h+1) signature blocks, any
  pair within Hamming distance h agrees on at least one whole block, so
  bucketing each block separately gives FULL recall, not prefix-table luck.

The Column-expression mirrors of the shingle, minhash and simhash kernels
(SQL-mirrorable definitions the Arrow kernels are tested against) live in
tests/dedup_mirrors.py; oracle.py holds their DuckDB counterparts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..plans.partitioning import _ensure_parallel, _parse_bytes

SIMHASH_BITS = 60  # md5-derived 60-bit signatures (15 hex chars -> ANSI-safe long)


def _shingle_set(t: str, k: int) -> set:
    """Distinct k-grams of lower(t); texts shorter than k yield the whole
    text (one shingle). The Column form is tests/dedup_mirrors.shingles_col."""
    t = t.lower()
    n = max(len(t) - k + 1, 1)
    return {t[i : i + k] for i in range(n)}


def _minhash_text_udf(num_hashes: int, k: int = 3, seed: int = 42):
    """text -> minhash signature with the shingling INSIDE the Arrow batch
    (one Python pass per doc). Hash family h_i(x) = (a_i*x + b_i) mod
    (2^31-1) over each gram's first 8 utf-8 bytes packed into a uint64 and
    folded to 31 bits (a, b, x < 2^31, so products stay inside uint64) —
    bit-identical to the Column-shingled parity mirror
    tests/dedup_mirrors.minhash_udf, minus ~len(text) interpreted lambda
    evals per row."""
    rng = np.random.default_rng(seed)
    P = np.uint64((1 << 31) - 1)
    A = rng.integers(1, int(P), num_hashes, dtype=np.uint64)
    B = rng.integers(0, int(P), num_hashes, dtype=np.uint64)

    # cap the per-slab distinct-gram table: Ht is n_distinct x num_hashes
    # uint64, so 1<<16 grams x 128 hashes = 67 MB worst case per python
    # worker. Natural-text batches (~250 distinct grams/doc, heavy cross-doc
    # overlap) never hit the cap; high-entropy corpora (random/binary-ish
    # strings, no overlap) flush every ~250 docs instead of materializing a
    # multi-GB whole-batch table (ADVICE r5).
    GRAM_SLAB = 1 << 16

    def mh(texts: pd.Series) -> pd.Series:
        # shingles repeat heavily across a batch (natural text shares
        # k-grams), so hash each DISTINCT gram ONCE per slab — the modular
        # hash was ~2/3 of the per-doc cost — and each doc's signature
        # becomes an L2-resident gather+min over the shared hash table.
        # The table is TRANSPOSED (n_distinct x num_hashes, row-major): the
        # per-doc gather reads ~n_grams contiguous 128-element rows instead
        # of 128 strided column picks — ~27% kernel win, bit-identical
        # (bisected vs the r4 per-doc and r5 column-gather kernels at fixed
        # conditions in BENCH.md).
        out: list = []
        gram_ix: dict = {}
        doc_idx: list = []

        def flush():
            if gram_ix:
                # utf-8 encode explicitly: numpy's str -> "S8" cast is ASCII
                # and raises on any other character
                packed = np.frombuffer(
                    np.asarray(
                        [g.encode("utf-8") for g in gram_ix], dtype="S8"
                    ).tobytes(),
                    dtype=np.uint64,
                )
                x = ((packed >> np.uint64(31)) ^ packed) & P
                Ht = np.ascontiguousarray(
                    ((A[:, None] * x[None, :] + B[:, None]) % P).T
                )
            out.extend(
                None if ii is None else Ht[ii].min(axis=0).astype(np.int64).tolist()
                for ii in doc_idx
            )
            gram_ix.clear()
            doc_idx.clear()

        for t in texts:
            if t is None or len(t) == 0:
                doc_idx.append(None)
                continue
            arr = _shingle_set(t, k)
            ii = np.empty(len(arr), dtype=np.int64)
            for j, g in enumerate(arr):
                v = gram_ix.get(g)
                if v is None:
                    v = len(gram_ix)
                    gram_ix[g] = v
                ii[j] = v
            doc_idx.append(ii)
            if len(gram_ix) >= GRAM_SLAB:
                flush()
        flush()
        return pd.Series(out, dtype=object)

    # asNondeterministic: the null-signature filter would otherwise be
    # pushed below the projection and run the kernel twice per row
    return F.pandas_udf(mh, ArrayType(LongType())).asNondeterministic()


def _pack_sig_udf():
    """array<long> minhash signature -> little-endian int32 binary blob.
    Signature values are < 2^31 (hashes mod P = 2^31-1), so int32 is exact.
    Runs once on the per-DOCUMENT sig frame (n_docs rows) so the per-PAIR
    attach joins carry a 4*num_hashes-byte blob instead of an Arrow
    list<int64> — 4x less shuffle/Arrow volume on the candidate set, which
    at sf0.1 is 710k pairs vs 5k docs (and proportionally worse at scale)."""
    from pyspark.sql.types import BinaryType

    def f(a: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if v is None else np.asarray(v, dtype="<i4").tobytes()
                for v in a
            ],
            dtype=object,
        )

    return F.pandas_udf(f, BinaryType())


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: (text_hash, n_dups, canonical_id, dup_ids).
    One shuffle on the 256-bit hash; map-side partial agg applies."""
    h = F.sha2(F.col(text_col), 256).alias("text_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("canonical_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


# ------------------------------------------------- exact canonicalization


def canonicalize_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """One representative row per DISTINCT text: (min-id as id_col, text,
    *carry-from-the-min-id-row). The canonicalization pre-pass that keeps
    LSH candidate generation O(distinct-texts): a web corpus routinely has
    duplicate clusters of 10^6 identical docs (boilerplate), and every LSH
    band puts the whole cluster in one bucket — m^2/2 candidate pairs unless
    collapsed to one rep first. One sha2 shuffle with map-side partial agg.
    Expansion back to members is exact_dedup's O(cluster) group output."""
    aggs = [
        F.min(id_col).alias(id_col),
        F.first(text_col).alias(text_col),  # identical within a group
    ]
    aggs += [F.min_by(F.col(c), F.col(id_col)).alias(c) for c in carry]
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("_th"), id_col, text_col, *carry)
        .groupBy("_th")
        .agg(*aggs)
        .drop("_th")
    )


def exact_canonical_map(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, canonical_id) for EVERY row — the join key for expanding
    canonical-pair results back to members. Window-min over the text hash:
    one shuffle, no self-join."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.sha2(F.col(text_col), 256))
    return df.select(
        F.col(id_col), F.min(id_col).over(w).alias("canonical_id")
    )


def synth_texts(spark, n: int, partitions: int = 32, dup_every: int = 20) -> DataFrame:
    """Deterministic synthetic document table for dedup scale probes: 40
    hash-chosen vocab words per doc (~260 chars); every `dup_every`-th id
    regenerates the text of (id - 7) plus a one-word suffix — a planted
    near-duplicate pair with shingle Jaccard ~0.95. Pure mapInPandas over
    spark.range: no driver data, any engine regenerates it identically."""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )

    def gen(batches):
        # diverse pseudo-words (NOT wNNN: uniform digit patterns share most
        # character trigrams, which makes every doc a shingle near-dup)
        vocab = np.array(
            [
                "".join(
                    chr(97 + (i * 7 + k * 13 + (i >> 3) * k) % 26)
                    for k in range(5 + i % 4)
                )
                for i in range(997)
            ]
        )
        U = np.uint64

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            base = np.where((ids % dup_every == 7) & (ids >= 7), ids - 7, ids)
            j = np.arange(40, dtype=np.uint64)
            # xorshift-multiply mix: word choice must NOT be linear in
            # (seed, j) — a linear rule makes every doc a shifted sample of
            # one cyclic progression, i.e. thousands of accidental
            # shingle near-dup pairs
            h = base[:, None].astype(np.uint64) * U(2654435761) + (j[None, :] + U(1)) * U(2246822519)
            h ^= h >> U(13)
            h *= U(0x9E3779B185EBCA87)
            h ^= h >> U(29)
            idx = (h % U(997)).astype(int)
            W = vocab[idx]  # (n, 40) word matrix
            texts = [" ".join(row) for row in W]
            texts = [
                t + " xtra" if (i % dup_every == 7 and i >= 7) else t
                for i, t in zip(ids, texts)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": [f"d{i:08d}" for i in ids],
                    "text": texts,
                    "lang": ["en"] * len(ids),
                }
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=schema)


def dedup_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star edge
    rewriting (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log^2 n) rounds REGARDLESS of graph
    diameter, where min-label propagation needs O(diameter) rounds. Use for
    long near-dup chains; dedup_components falls back here automatically.

    Per round (all DataFrame ops, two shuffles + a convergence probe):
      large-star: every node links its LARGER neighbors to the minimum of
      its closed neighborhood; small-star: every node links its smaller-or-
      equal neighbors (and itself) to that minimum. The fixed point is a
      star forest: edges point straight at component roots."""
    u, v = F.col("u"), F.col("v")
    E = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(u != v)
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_e = E.count()
    for _ in range(max_iter):
        sym = E.union(E.select(v.alias("u"), u.alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least(u, F.col("_mv")).alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(v > u)
            .select(v.alias("u"), F.col("m").alias("v"))
            .filter(u != v)
            .distinct()
        )
        dirz = ls.select(
            F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
        ).distinct()
        mins2 = dirz.groupBy("u").agg(F.min("v").alias("m"))
        joined = dirz.join(mins2, "u")
        ss = (
            joined.select(v.alias("u"), F.col("m").alias("v"))
            .union(joined.select(u.alias("u"), F.col("m").alias("v")))
            .filter(u != v)
            .distinct()
            .localCheckpoint(eager=False)
        )
        # convergence probe (VERDICT r8 #4): both edge sets are DISTINCT,
        # so ss == E iff |ss| == |E| and ss \ E is empty — one cheap count
        # (which the next round would need anyway) plus one exceptAll only
        # when the counts agree, instead of two exceptAll jobs per round
        n_ss = ss.count()
        changed = (n_ss != n_e) or ss.exceptAll(E).limit(1).count()
        E, n_e = ss, n_ss
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_components_star did not converge in {max_iter} rounds"
        )
    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .union(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    return nodes.join(
        E.select(u.alias("id"), v.alias("_c")), "id", "left"
    ).select("id", F.coalesce(F.col("_c"), F.col("id")).alias("component"))


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components of a near-duplicate pair graph -> (id, component)
    with component = min member id. Iterative min-label propagation: each
    round every node takes the min of its own label and its neighbors'
    labels; converges in O(graph diameter) rounds. Near-dup clusters are
    near-cliques (diameter ~1-2), so this terminates in a few rounds — for
    long-path graphs use the large-star/small-star variant (Kiveris et al.,
    "Connected Components in MapReduce", SoCC'14); this implementation
    favors the shape dedup graphs actually have. Each round is one shuffle
    on id; labels are localCheckpoint'd so lineage stays flat.

    If the loop exhausts max_iter with labels still changing (a near-dup
    chain longer than max_iter+1), the graph is handed to the diameter-
    independent dedup_components_star.

    r9: when the edge list fits the gather cap (spark.geomesa.dedup.
    gatherMaxBytes at 64 bytes per edge — the same size-guarded _gather as
    the verify payloads), the components are solved with a driver-side
    union-find instead: the distributed loop costs one join + aggregate +
    probe JOB per round, which is pure scheduling latency on a graph that
    fits in memory (measured sf1.0: 52,873 edges took ~5 s of rounds vs
    ~50 ms of union-find). Identical output — component = min member id
    under the same binary string ordering (UTF-8 byte order equals
    codepoint order). Above the cap the distributed loop is unchanged."""
    E0 = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    E0 = E0.localCheckpoint(eager=False)
    edge_list = _gather(E0, 64 * E0.count())
    if edge_list is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for u, v in zip(edge_list["src"].tolist(), edge_list["dst"].tolist()):
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        out_rows = [(node, comp_min[find(node)]) for node in parent]
        from pyspark.sql.types import StructField, StructType

        id_type = pairs.schema[id_a].dataType
        schema = StructType(
            [StructField("id", id_type), StructField("component", id_type)]
        )
        return pairs.sparkSession.createDataFrame(out_rows, schema=schema)
    edges = E0
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    # fold the FIRST propagation into initialization: label0 = min(self,
    # neighbors). Near-dup clusters are near-cliques, so most nodes reach
    # their final label here and the loop usually runs one confirm round.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("_mn")).alias("component"),
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("component").alias("_nc")
                ),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("_nc").alias("_mn"))
            .withColumnRenamed("src", "id")
        )
        # the change flag rides along in the same projection, so the
        # convergence probe is a filter on the materialized round — not a
        # second join of new-vs-old labels
        new = labels.join(nbr_min, on="id", how="left").select(
            "id",
            F.least(F.col("component"), F.coalesce("_mn", "component")).alias(
                "component"
            ),
            (F.coalesce("_mn", F.col("component")) < F.col("component")).alias(
                "_chg"
            ),
        ).localCheckpoint(eager=False)
        changed = new.filter("_chg").limit(1).count()
        labels = new.drop("_chg")
        if changed == 0:
            break
    else:
        # labels still changing after max_iter rounds would be WRONG
        return dedup_components_star(pairs, id_a, id_b)
    return labels


def _bucket_guard(keyed: DataFrame, key_cols: list[str], max_bucket: int | None):
    """Drop LSH buckets larger than max_bucket (None = keep all). An
    oversized bucket is degenerate blocking — m docs sharing a band value
    emit m^2/2 candidate pairs, so one hot bucket (boilerplate cluster that
    survived canonicalization, e.g. near-identical-but-not-equal templates)
    can dominate the whole job. The window count shuffles on the SAME key as
    the candidate self-join, so AQE reuses the exchange. Reference analog:
    full-table-scan blocking, QueryProperties.scala:40-42 — refuse the
    degenerate plan rather than run it.

    NOTE (ADVICE r8): when a block column is part of key_cols (the r8
    ngram bucket keying), sizes are counted per (block, band, bucket) —
    a globally-oversized bucket whose per-block slices stay under
    max_bucket now SURVIVES for its same-block pairs. This is intended:
    the guard exists to bound per-bucket pair volume, and the per-block
    slices ARE the pair-generating units under block keying."""
    if max_bucket is None:
        return keyed
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols)
    return (
        keyed.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


# ------------------------------------------------------------------ MinHash


def _bucket_self_join(
    df: DataFrame,
    id_col: str,
    kv_sql: list[str],
    key: list[str],
    carry: tuple[str, ...] = (),
    max_bucket: int | None = None,
) -> DataFrame:
    """Rows of `df` that share a bucket, as a self-join with sides aliased
    `a` and `b` and a.id < b.id: each row explodes into one struct per
    kv_sql entry (SQL struct expressions whose fields complete `key`),
    _bucket_guard drops oversized buckets, and the two sides join on `key`.
    `carry` columns ride along to both sides. The explode is ONE SQL
    string: built as Columns it costs a py4j round trip per struct field
    (measured on 4 vCPU: a 16-band _lsh_candidates call took 0.33 s of
    driver time with Column structs, 0.19 s with the string)."""
    keep = [f"`{c}`" for c in (id_col, *carry)]
    tbl = df.selectExpr(
        *keep, f"explode(array({', '.join(kv_sql)})) AS _bb"
    ).selectExpr(*keep, "_bb.*")
    tbl = _bucket_guard(tbl, key, max_bucket)
    a = tbl.alias("a")
    b = tbl.alias("b")
    return a.join(b, on=key).filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))


def _lsh_candidates(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    max_bucket: int | None = None,
    block_col: str | None = None,
) -> DataFrame:
    """(id, _sig) -> RAW candidate id pairs via LSH banding: a pair that
    collides in several bands appears once per band. Only (id, band,
    bucket-hash) crosses the shuffle; the band self-join's two sides are the
    identical subplan, so Spark computes the exchange once (ReusedExchange).
    max_bucket (if set) drops degenerate buckets before the self-join —
    see _bucket_guard.

    block_col (if set, and present in `sig`) joins the bucket key, so
    cross-block pairs NEVER form. With downstream same-block semantics this
    is pure savings and loses no recall — a same-block pair collides in a
    (block, band, bucket) bucket iff it collided in the (band, bucket) one.
    Measured at sf0.1: 75% of the global candidate set was cross-lang and
    only died after the sig attach; blocking the bucket key removes that
    volume from every downstream stage (the r8 ngram-tail cut)."""
    r = num_hashes // bands
    carry = (block_col,) if block_col else ()
    pairs = _bucket_self_join(
        sig,
        id_col,
        [
            f"struct({i} AS band, xxhash64(slice(_sig, {i * r + 1}, {r})) AS bucket)"
            for i in range(bands)
        ],
        [*carry, "band", "bucket"],
        carry,
        max_bucket,
    )
    return pairs.select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )


def _attach(cand: DataFrame, side: DataFrame, id_col: str, out_id: str) -> DataFrame:
    """Re-attach per-document columns to one side of a candidate pair with a
    plain id equi-join (sort-merge / AQE-broadcast — NEVER an explicit
    broadcast of a document-sized table)."""
    renamed = side.withColumnRenamed(id_col, out_id)
    for c in side.columns:
        if c != id_col:
            renamed = renamed.withColumnRenamed(c, f"{c}_{out_id}")
    return cand.join(renamed, on=out_id)


# est-prefilter margin for the exact-verify paths: the candidate set on
# self-similar corpora is dominated by mid-similarity pairs that can never
# reach `threshold`; dropping everything with est < threshold - margin
# shrinks the exact intersect to the near-duplicates. With 128 hashes the
# estimator std at s=threshold is ~0.03, so 0.15 is a ~5-sigma guard —
# recall of true >=threshold pairs is preserved (tested at both SFs).
_EST_MARGIN = 0.15

# -------------------------------------------------- gather-side verification
#
# The r8 verify pipeline attached per-document payloads (512 B sig blobs,
# ~260 B texts) to every candidate PAIR with sort-merge id joins. At sf1.0
# that is 72 M pairs x ~1 KB through two exchanges for the est stage alone
# (measured r9: est 15.3 s, exact verify 28.9 s of an 87 s gate) — the
# classic "shuffle heavy payloads to make a per-pair decision" anti-pattern
# (optimization guide §8). The fix is the guide's "broadcast the plan"
# option: when the per-document side fits a size cap, collect it ONCE,
# broadcast it, and let the verify UDFs gather payloads by id — candidate
# pairs then carry IDS ONLY end to end, and all four attach exchanges
# disappear. Each verify score has ONE kernel; only its payload source
# differs (broadcast table by id, or the attached columns), so the math is
# bit-identical on both paths. Above the cap (the 100 TB case: the document
# table itself is too big to hold per executor) the attach joins run —
# this is deliberate join-strategy selection (guide §3.1), not a scale
# regression.
_GATHER_MAX_BYTES = 256 << 20


def _gather(df: DataFrame, nbytes: int, id_col: str | None = None):
    """The driver gather behind every size-guarded dedup fork: None when
    `nbytes` (the caller's byte estimate of `df`) exceeds the cap
    spark.geomesa.dedup.gatherMaxBytes; else `df` as pandas through Arrow
    (guide §6: the row-pickle collect of a 100k-doc sig table costs ~2 s
    more) — or None again when `id_col` is set and repeats an id (the
    attach joins keep duplicate-id semantics)."""
    spark = df.sparkSession
    try:
        cap = _parse_bytes(spark.conf.get("spark.geomesa.dedup.gatherMaxBytes"))
    except Exception:
        cap = _GATHER_MAX_BYTES
    if nbytes > cap:
        return None
    pdf = df.toArrow().to_pandas()
    if id_col is not None and pdf[id_col].duplicated().any():
        return None
    return pdf


def _gather_ix(ids: pd.Index, s: pd.Series) -> np.ndarray:
    ix = ids.get_indexer(s)
    if (ix < 0).any():
        raise KeyError("candidate id missing from gathered document table")
    return ix


def _est_udf(num_hashes: int, bc=None):
    """(a, b) -> minhash matching-position fraction (the Jaccard estimator)
    over int32 signature rows. With `bc` (a broadcast (ids, sig matrix)) a
    and b are ids whose rows are gathered from the matrix; without it they
    are the attached packed-sig blobs, read with one zero-copy frombuffer
    per batch. asNondeterministic pins the estimate where it stands: it is
    neither evaluated twice per row nor re-ordered around a dedupe."""
    from pyspark.sql.types import DoubleType

    def rows(s: pd.Series) -> np.ndarray:
        if bc is None:
            return np.frombuffer(b"".join(s), dtype="<i4").reshape(-1, num_hashes)
        ids, M = bc.value
        return M[_gather_ix(ids, s)]

    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series((rows(a) == rows(b)).mean(axis=1))

    return F.pandas_udf(f, DoubleType()).asNondeterministic()


def _exact_jaccard_udf(k: int, bc=None):
    """(a, b) -> EXACT distinct-k-shingle Jaccard. With `bc` (a broadcast
    (ids, texts)) a and b are ids into the broadcast texts; without it they
    are the attached texts, coded per batch. Each distinct text's gram
    set is materialized once as a SORTED array of integer gram ids from a
    vocab dict (an exact string->id bijection, so the intersection and union
    COUNTS are those of Python set math; ~1 KB per text vs ~18 KB for string
    sets). Pairs intersect by searchsorted over the sorted id arrays —
    measured 2.5x faster per pair than np.intersect1d and ~7x than fresh set
    building. The vocab and cache live per worker on the broadcast source
    (ids are global) and per Arrow batch on the attached one (bounded
    memory above the gather cap). asNondeterministic: the filter on the
    projected alias would otherwise be pushed below the projection and
    evaluate the UDF twice per row (guide §4.4)."""
    from pyspark.sql.types import DoubleType

    worker_vocab: dict = {}
    worker_cache: dict = {}

    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        if bc is None:
            # a dict, not pd.factorize: pandas hashes strings as C strings,
            # which would merge texts that differ only after a NUL
            code: dict = {}
            ia = np.fromiter((code.setdefault(t, len(code)) for t in a), np.int64, n)
            ib = np.fromiter((code.setdefault(t, len(code)) for t in b), np.int64, n)
            texts = list(code)
            vocab: dict = {}
            cache: dict = {}
        else:
            ids, texts = bc.value
            ia, ib = _gather_ix(ids, a), _gather_ix(ids, b)
            vocab, cache = worker_vocab, worker_cache

        def sh(ix: int):
            s = cache.get(ix)
            if s is None:
                grams = _shingle_set(texts[ix], k)
                s = np.fromiter(
                    (vocab.setdefault(g, len(vocab)) for g in grams),
                    dtype=np.int64,
                    count=len(grams),
                )
                s.sort()
                cache[ix] = s
            return s

        out = np.empty(n, dtype=np.float64)
        # batch-level grouping: pairs arrive clustered by id_b (the caller
        # sorts within partitions), so consecutive rows share the partner
        # array sb — concatenate the run's sa arrays and do ONE searchsorted
        # + reduceat per run instead of one numpy call chain per pair
        # (measured ~23us/pair ungrouped, numpy call overhead)
        i = 0
        while i < n:
            j = i + 1
            part = ib[i]
            while j < n and ib[j] == part:
                j += 1
            sb = sh(part)
            sizes = np.empty(j - i, dtype=np.int64)
            cats = []
            for r in range(i, j):
                sa = sh(ia[r])
                sizes[r - i] = sa.size
                cats.append(sa)
            cat = np.concatenate(cats) if len(cats) > 1 else cats[0]
            hits = (
                np.searchsorted(sb, cat, side="right")
                - np.searchsorted(sb, cat, side="left")
            )
            bounds = np.zeros(len(sizes), dtype=np.int64)
            np.cumsum(sizes[:-1], out=bounds[1:])
            inter = np.add.reduceat(hits, bounds)
            out[i:j] = inter / (sizes + sb.size - inter)
            i = j
        return pd.Series(out)

    return F.pandas_udf(f, DoubleType()).asNondeterministic()


def _minhash_pairs(
    df: DataFrame,
    threshold: float,
    num_hashes: int,
    bands: int,
    k: int,
    text_col: str,
    id_col: str,
    verify: str,
    canonicalize: bool,
    max_bucket: int | None,
    block_col: str | None,
) -> DataFrame:
    """The MinHash-LSH pipeline behind minhash_lsh_pairs and
    ngram_jaccard_pairs: canonicalize -> signatures -> raw LSH candidates
    -> estimate filter -> (verify='exact') exact shingle-Jaccard verify.

    The gather-vs-attach fork is decided ONCE, from one size aggregate over
    the signature table: when its payloads (sig blobs, plus texts for
    verify='exact') fit the gather cap, one _gather feeds both broadcasts
    and candidate pairs carry ids only; otherwise both stages attach the
    payloads with id joins."""
    keep = [id_col] + ([block_col] if block_col else [])
    if canonicalize:
        df = canonicalize_exact(df, text_col, id_col, carry=tuple(keep[1:]))
    df = _ensure_parallel(df)
    # shingling happens INSIDE the signature/verify UDF batches — only the
    # ~300-byte text (not a ~len(text)-element shingle array) is carried,
    # and no interpreted transform/substring lambdas run per row.
    # localCheckpoint cuts the lineage so the minhash work runs ONCE, not
    # once per downstream branch (size probe, candidates, gather or each
    # attach side); the materialized blocks are GC-cleaned with the plan —
    # no persist leak. Null and empty texts have no signature and drop here.
    sig = (
        df.select(*keep, F.col(text_col).alias("_txt"))
        .withColumn("_sig", _minhash_text_udf(num_hashes, k)(F.col("_txt")))
        .filter(F.col("_sig").isNotNull())
        .withColumn("_sigb", _pack_sig_udf()(F.col("_sig")))
        .localCheckpoint(eager=False)
    )
    # block_col joins the LSH bucket key: cross-block pairs never form, so
    # the est prefilter / text attach / exact verify all run on same-block
    # volume only (r8 measurement: 75% of global candidates were cross-lang)
    cand = _lsh_candidates(
        sig.select(id_col, "_sig", *keep[1:]),
        id_col, num_hashes, bands, max_bucket, block_col=block_col,
    )
    exact = verify == "exact"
    size = sig.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.octet_length("_txt")).alias("b")
    ).first()
    nbytes = size["n"] * 4 * num_hashes
    if exact:
        nbytes += size["n"] * 64 + (size["b"] or 0)
    table = _gather(
        sig.select(id_col, "_sigb", *(["_txt"] if exact else [])), nbytes, id_col
    )
    # the estimate filter is sig-only and runs BEFORE any text movement (a
    # fused sig+txt attach was measured 2.5x SLOWER, r7); above the cap the
    # raw multi-band pairs are deduplicated before the sig attach
    if table is None:
        sigs = sig.select(id_col, "_sigb")
        cand = cand.dropDuplicates(["id_a", "id_b"])
        cand = _attach(cand, sigs, id_col, "id_a")
        cand = _attach(cand, sigs, id_col, "id_b")
        est = _est_udf(num_hashes)(F.col("_sigb_id_a"), F.col("_sigb_id_b"))
    else:
        ids = pd.Index(table[id_col])
        M = np.frombuffer(b"".join(map(bytes, table["_sigb"])), dtype="<i4")
        sc = sig.sparkSession.sparkContext
        est = _est_udf(num_hashes, sc.broadcast((ids, M.reshape(len(ids), num_hashes))))(
            F.col("id_a"), F.col("id_b")
        )
    if exact:
        cand = cand.filter(est >= threshold - _EST_MARGIN).select("id_a", "id_b")
    else:
        cand = cand.select("id_a", "id_b", est.alias("est_jaccard")).filter(
            F.col("est_jaccard") >= threshold
        )
    if table is not None:
        # the estimate is per-pair deterministic, so filtering the raw
        # copies FIRST is set-identical to dedupe-then-filter, and the dedupe
        # exchange moves from the full candidate volume (sf1.0 multiplicity
        # only 1.08x: 78.0M raw vs 72.1M distinct) to the ~12M survivors.
        # Partitioning it by id_b alone still co-locates every copy of a
        # pair, and clusters each partition by PARTNER so the exact kernel's
        # run-grouping amortizes over ~hundreds of pairs
        cand = cand.repartition("id_b").dropDuplicates(["id_a", "id_b"])
    if not exact:
        return cand
    if table is None:
        texts = sig.select(id_col, "_txt")
        cand = _attach(cand, texts, id_col, "id_a")
        cand = _attach(cand, texts, id_col, "id_b")
        jac = _exact_jaccard_udf(k)(F.col("_txt_id_a"), F.col("_txt_id_b"))
    else:
        bc = sc.broadcast((ids, table["_txt"].to_numpy(dtype=object)))
        jac = _exact_jaccard_udf(k, bc)(F.col("id_a"), F.col("id_b"))
    # local sort clusters each partition's pairs by partner id so the
    # kernel's run-grouping amortizes (row order is not part of the result
    # contract; the pair SET is unchanged)
    return (
        cand.sortWithinPartitions("id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 16,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: str = "est",
    canonicalize: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup candidates.

    shingle -> minhash signature -> band buckets -> bucket equi-join (the
    scale path: shuffle keyed on (band, bucket-hash); a pair collides in some
    band with prob 1-(1-s^r)^b).

    verify='est'   -> (id_a, id_b, est_jaccard) with signature-estimated
                      Jaccard >= threshold (cheapest; estimator noise).
    verify='exact' -> (id_a, id_b, jaccard) with EXACT shingle Jaccard >=
                      threshold computed only on candidates (deterministic,
                      oracle-checkable).

    canonicalize=True collapses exact duplicates (identical text) to one
    min-id representative BEFORE candidate generation, so a 10^6-identical
    boilerplate cluster contributes ONE doc to every band bucket instead of
    10^6 (pairs among identical docs are exact_dedup's O(cluster) output,
    not emitted here). max_bucket drops residual degenerate buckets — see
    _bucket_guard."""
    return _minhash_pairs(
        df, threshold, num_hashes, bands, k, text_col, id_col, verify,
        canonicalize, max_bucket, block_col=None,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    k: int = 3,
    block_col: str | None = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 16,
    canonicalize: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by character-k-gram Jaccard >= threshold.

    Candidate generation is MinHash-LSH banding (NOT all-pairs within a
    block: that is O(n^2/blocks) and dies at scale); the exact Jaccard runs
    only on candidates. With r = num_hashes/bands rows per band, a true pair
    at similarity s is missed with probability (1-s^r)^bands. The defaults
    (num_hashes=128, bands=16 → r=8) give ~1.2e-4 miss at s=0.9 and ~5.3%
    at s=0.8 — a deliberate precision/recall trade: r=4 floods the candidate
    set on self-similar (boilerplate-heavy) corpora. Pass bands=32 (r=4,
    miss < 2e-18 at s=0.9) when near-threshold recall matters more than
    candidate volume. `block_col`
    (if set) additionally restricts pairs to equal block values (e.g.
    same-language dedup). canonicalize/max_bucket: duplicate-cluster safety,
    see minhash_lsh_pairs."""
    return _minhash_pairs(
        df, threshold, num_hashes, bands, k, text_col, id_col, "exact",
        canonicalize, max_bucket, block_col,
    )


# ------------------------------------------------------------------ SimHash


def _simhash_text_udf(bits: int = SIMHASH_BITS):
    """text -> simhash signature: bit b = sign of the sum over whitespace
    tokens of (+-1 by token-hash bit b), with 60-bit md5-derived token hashes
    (md5 is engine-independent, so signatures are verifiable against DuckDB
    — unlike xxhash64; 15 hex chars keep the ANSI long cast overflow-free).
    Tokenization + md5 run INSIDE the Arrow batch (r9): the Column mirror
    (tests/dedup_mirrors.simhash_col) interprets a transform() lambda PER
    TOKEN (~40 tokens/doc). hashlib.md5 over the UTF-8 token bytes with
    int(hex[2:17], 16) is VALUE-IDENTICAL to conv(substring(md5(t), 3, 15),
    16, 10)::long (same digest, same hex window), Python str.lower()/
    split(' ') match lower()/split, non-ASCII case mappings included (split
    keeps empty tokens in both). A null text has no signature (null, as
    in the DuckDB oracle). Token hashes are memoized per worker
    (natural-language tokens repeat)."""
    import hashlib

    from pyspark.sql.types import LongType

    shifts = np.arange(bits, dtype=np.int64)
    cache: dict = {}

    def f(texts):  # no hints (local-import annotations trap)
        out = np.zeros(len(texts), dtype=np.int64)
        null = texts.isna().to_numpy()
        for i, t in enumerate(texts):
            if null[i]:
                continue
            toks = t.lower().split(" ")
            hv = np.empty(len(toks), dtype=np.int64)
            for j, tok in enumerate(toks):
                h = cache.get(tok)
                if h is None:
                    h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[2:17], 16)
                    if len(cache) < (1 << 20):
                        cache[tok] = h
                hv[j] = h
            bitm = (hv[:, None] >> shifts) & 1  # (tokens, bits)
            contrib = bitm.sum(axis=0) * 2 - len(hv)  # sum of +-1 per bit
            out[i] = int(((contrib > 0).astype(np.int64) << shifts).sum())
        return pd.Series(pd.arrays.IntegerArray(out, null))

    # asNondeterministic: see _minhash_text_udf
    return F.pandas_udf(f, LongType()).asNondeterministic()


def _simhash_blocks(max_hamming: int, bits: int = SIMHASH_BITS):
    """Pigeonhole split of the signature into (max_hamming+1) bit blocks:
    a pair with <= max_hamming differing bits agrees on >= 1 whole block."""
    n_blocks = max_hamming + 1
    base, extra = divmod(bits, n_blocks)
    blocks, off = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        blocks.append((off, width))
        off += width
    return blocks


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    canonicalize: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming — FULL recall via
    the pigeonhole multi-block construction (Manku et al., WWW'07 shape):
    each row emits (block_id, block_value) for max_hamming+1 signature
    blocks; candidates are block equi-join matches; exact Hamming verifies.
    A pair matching several blocks dedupes on (id_a, id_b).
    canonicalize/max_bucket: duplicate-cluster safety, see
    minhash_lsh_pairs."""
    if canonicalize:
        df = canonicalize_exact(df, text_col, id_col)
    sh = (
        _ensure_parallel(df)
        .select(F.col(id_col), _simhash_text_udf()(F.col(text_col)).alias("_sig"))
        .filter(F.col("_sig").isNotNull())
        .localCheckpoint(eager=False)  # signatures computed once, both join sides
    )
    kv = [
        f"struct({i} AS block, shiftrightunsigned(_sig, {off}) & {(1 << width) - 1} AS bval)"
        for i, (off, width) in enumerate(_simhash_blocks(max_hamming))
    ]
    pairs = _bucket_self_join(sh, id_col, kv, ["block", "bval"], ("_sig",), max_bucket)
    ham = F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig")))
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# -------------------------------------------------------- embedding near-dup


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lsh_bits: int = 6,
    tables: int = 8,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-duplicates: multi-table random-hyperplane LSH bucket
    join + exact cosine verify. A pair at angular similarity p collides in
    >= 1 of `tables` with prob 1-(1-p^bits)^tables. Hyperplanes are literal
    sign vectors (similarity.hyperplane_signs) — deterministic and
    SQL-expressible, so the full pipeline is oracle-checkable. Pairs are
    enumerated and scored INSIDE each (table, bucket) group, so vectors
    never ride a candidate pair; only pairs at or above threshold leave the
    kernel. Rows with a null id are dropped and equal ids never pair (the
    `a.id < b.id` semantics of the join form). max_bucket drops degenerate
    buckets (e.g. a zero-vector cluster) — see _bucket_guard."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from .similarity import _vec_dim, hyperplane_signs, rp_buckets_udf

    df = _ensure_parallel(df)
    dim = _vec_dim(df, vec_col)
    signs = hyperplane_signs(dim, lsh_bits, tables, seed)
    # all table buckets in one Arrow-batched matmul; posexplode to
    # (table, bucket) group keys. r9: score WITHIN each bucket group via
    # applyInPandas instead of a bucket self-join + per-pair vector attach —
    # the r8 plan shipped BOTH 64-dim vectors to every candidate pair
    # (measured sf1.0: 27 M raw pairs, a 22 s dropDuplicates + two attach
    # exchanges of ~25 GB for a near-empty output). Here every vector
    # crosses the shuffle once per table (tables x n rows total), each
    # bucket block enumerates its own pairs with the IDENTICAL per-pair
    # cosine math, and only >=threshold pairs leave the kernel; duplicates
    # from multi-table collisions (identical cosine by construction, so
    # filter-then-dedupe == dedupe-then-filter) drop afterwards on the tiny
    # survivor set. Memory is bounded by the largest bucket (the guard /
    # lsh_bits control it), pair enumeration is chunked.
    keyed = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        F.posexplode(rp_buckets_udf(signs)(F.col(vec_col))).alias("tbl", "bkt"),
    )
    keyed = _bucket_guard(keyed, ["tbl", "bkt"], max_bucket)
    out_schema = StructType(
        [
            StructField("id_a", df.schema[id_col].dataType),
            StructField("id_b", df.schema[id_col].dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    thr = float(threshold)

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        norms = np.linalg.norm(V, axis=1)
        out_a, out_b, out_c = [], [], []
        # chunked upper-triangle enumeration: bounded temporaries even for
        # large unguarded buckets
        chunk_rows: list[tuple[int, int]] = []
        budget = 0
        for i in range(m - 1):
            chunk_rows.append((i, m - 1 - i))
            budget += m - 1 - i
            if budget >= 200_000 or i == m - 2:
                iu = np.concatenate(
                    [np.full(c, r, dtype=np.int64) for r, c in chunk_rows]
                )
                ju = np.concatenate(
                    [np.arange(r + 1, m, dtype=np.int64) for r, _ in chunk_rows]
                )
                cos = (V[iu] * V[ju]).sum(axis=1) / (norms[iu] * norms[ju])
                keep = (cos >= thr) & (ids[iu] != ids[ju])
                if keep.any():
                    out_a.append(ids[iu[keep]])
                    out_b.append(ids[ju[keep]])
                    out_c.append(cos[keep])
                chunk_rows, budget = [], 0
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return (
        keyed.groupBy("tbl", "bkt")
        .applyInPandas(score_bucket, schema=out_schema)
        .dropDuplicates(["id_a", "id_b"])
    )

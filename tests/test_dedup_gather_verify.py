"""r9 gather-side verification parity: the broadcast-gather est/verify path
(default below the size cap) must emit EXACTLY the same pairs and values as
the attach-join path (the above-cap 100TB fallback) — forced here by setting
the gather cap to zero bytes."""

import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators.dedup import (
    embedding_cosine_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    synth_texts,
)

CAP = "spark.geomesa.dedup.gatherMaxBytes"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture()
def texts(spark):
    return synth_texts(spark, 3000, partitions=8).localCheckpoint()


def _with_cap(spark, cap, fn):
    old = spark.conf.get(CAP, None)
    spark.conf.set(CAP, cap)
    try:
        return fn()
    finally:
        if old is None:
            spark.conf.unset(CAP)
        else:
            spark.conf.set(CAP, old)


def test_minhash_exact_gather_matches_attach(spark, texts):
    cols = ["id_a", "id_b", "jaccard"]
    gather = _rows(
        minhash_lsh_pairs(texts, threshold=0.8, verify="exact", canonicalize=True),
        cols,
    )
    attach = _with_cap(
        spark,
        "0",
        lambda: _rows(
            minhash_lsh_pairs(texts, threshold=0.8, verify="exact", canonicalize=True),
            cols,
        ),
    )
    assert len(gather) >= 3000 // 20 - 2  # planted near-dups all found
    assert gather == attach  # identical pairs AND identical jaccard doubles


def test_minhash_est_gather_matches_attach(spark, texts):
    cols = ["id_a", "id_b", "est_jaccard"]
    gather = _rows(minhash_lsh_pairs(texts, threshold=0.8, verify="est"), cols)
    attach = _with_cap(
        spark,
        "0",
        lambda: _rows(minhash_lsh_pairs(texts, threshold=0.8, verify="est"), cols),
    )
    assert gather and gather == attach


def test_ngram_gather_matches_attach(spark, texts):
    cols = ["id_a", "id_b", "jaccard"]
    gather = _rows(
        ngram_jaccard_pairs(texts, threshold=0.8, block_col="lang"), cols
    )
    attach = _with_cap(
        spark,
        "0",
        lambda: _rows(
            ngram_jaccard_pairs(texts, threshold=0.8, block_col="lang"), cols
        ),
    )
    assert gather and gather == attach


def test_jaccard_gather_nul_and_short_texts(spark):
    """NUL-bearing texts force the object-dtype shingle arrays (U-dtype
    would merge 'ab\\0' with 'ab'); shorter-than-k texts shingle to the
    whole text; multi-byte utf-8 grams (2-, 3- and 4-byte characters) pack
    into the signature by their first 8 utf-8 bytes. Both must agree with
    the attach path exactly."""
    rows = [
        ("a1", "ab\x00cd ab\x00ce", "en"),
        ("a2", "ab\x00cd ab\x00cf", "en"),
        ("b1", "ab", "en"),
        ("b2", "ab", "en"),
        ("c1", "abcd abce xyz", "en"),
        ("c2", "abcd abce xyw", "en"),
        ("d1", "un café au lait chaud, s'il vous plaît", "fr"),
        ("d2", "un café au lait chaud, s'il vous plaît!", "fr"),
        ("e1", "die straße ist groß und schön", "de"),
        ("e2", "die straße ist groß und schön.", "de"),
        ("f1", "καλημέρα κόσμε, τι κάνεις σήμερα", "el"),
        ("f2", "καλημέρα κόσμε, τι κάνεις σήμερα;", "el"),
        ("g1", "東京都の天気は晴れです。明日も晴れるでしょう", "ja"),
        ("g2", "東京都の天気は晴れです。明日も晴れるでしょう🌞", "ja"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    cols = ["id_a", "id_b", "jaccard"]
    gather = _rows(minhash_lsh_pairs(df, threshold=0.3, verify="exact"), cols)
    attach = _with_cap(
        spark,
        "0",
        lambda: _rows(minhash_lsh_pairs(df, threshold=0.3, verify="exact"), cols),
    )
    assert gather == attach
    assert {(a, b) for a, b, _ in gather} >= {
        ("d1", "d2"), ("e1", "e2"), ("f1", "f2"), ("g1", "g2")
    }


def test_embedding_bucket_kernel_matches_join_reference(spark):
    """The per-bucket pair kernel must reproduce the r8 join+attach+UDF
    reference exactly (pairs and unrounded cosine doubles) — including on a
    repeated id (no self-pair) and a null id (never paired)."""
    from geomesa_spark.operators.dedup import _attach, _bucket_guard
    from geomesa_spark.operators.similarity import (
        hyperplane_signs,
        rp_buckets_udf,
        synth_embeddings,
    )
    from dedup_mirrors import cosine_pairs_udf

    emb = synth_embeddings(spark, 1500, partitions=8)
    twin = emb.orderBy("vec_id").first()
    emb = emb.union(
        spark.createDataFrame(
            [(twin.vec_id, twin.embedding), (None, twin.embedding)], emb.schema
        )
    ).localCheckpoint()
    new = _rows(
        embedding_cosine_pairs(emb, threshold=0.30, lsh_bits=4, tables=4),
        ["id_a", "id_b", "cosine"],
    )

    signs = hyperplane_signs(64, 4, 4, 42)
    keyed = emb.select(
        F.col("vec_id"),
        F.posexplode(rp_buckets_udf(signs)(F.col("embedding"))).alias("tbl", "bkt"),
    )
    a, c = keyed.alias("a"), keyed.alias("c")
    cand = (
        a.join(c, on=["tbl", "bkt"])
        .filter(F.col("a.vec_id") < F.col("c.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("c.vec_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = emb.select("vec_id", "embedding")
    cand = _attach(cand, vecs, "vec_id", "id_a")
    cand = _attach(cand, vecs, "vec_id", "id_b")
    cos = cosine_pairs_udf()(F.col("embedding_id_a"), F.col("embedding_id_b"))
    # distinct: the repeated id attaches its (identical) vector twice
    ref = _rows(
        cand.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.30)
        .distinct(),
        ["id_a", "id_b", "cosine"],
    )
    assert new and new == ref


def test_components_local_union_find_matches_distributed(spark):
    """r9: below the gather cap dedup_components solves with a driver-side
    union-find; forcing the cap to zero runs the distributed min-label
    loop. Both must emit identical (id, component) sets — including a long
    chain (diameter >> 1) and disjoint cliques."""
    from geomesa_spark.operators.dedup import dedup_components

    rows = (
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(40)]  # 41-node chain
        + [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]        # clique
        + [("z9", "z8")]                                     # 2-node comp
    )
    pairs = spark.createDataFrame(rows, ["id_a", "id_b"])
    local = sorted(tuple(r) for r in dedup_components(pairs).collect())
    spark.conf.set(CAP, "0")
    try:
        dist = sorted(
            tuple(r) for r in dedup_components(pairs, max_iter=60).collect()
        )
    finally:
        spark.conf.unset(CAP)
    assert local == dist
    comp = dict(local)
    assert comp["n040"] == "n000" and comp["a3"] == "a1" and comp["z9"] == "z8"

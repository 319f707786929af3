"""Column-expression parity mirrors of the dedup kernels.

geomesa_spark.operators.dedup computes shingles, minhash signatures and
simhash signatures inside Arrow batches. The forms here build the same
values from Spark built-ins (interpreted transform/aggregate lambdas, far
too slow for the hot paths), so tests can check the kernels against an
independent, SQL-mirrorable definition; geomesa_spark.oracle holds the
DuckDB counterparts. cosine_pairs_udf is the per-pair reference the
embedding bucket kernel is checked against."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from geomesa_spark.operators.dedup import SIMHASH_BITS


def shingles_col(text_col, k: int = 3):
    """Distinct lowercase character k-shingles as a Column — the definition
    dedup._shingle_set computes per text; texts shorter than k yield the
    whole text."""
    t = F.lower(text_col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
            lambda i: F.substring(t, i, k),
        )
    )


def minhash_udf(num_hashes: int, seed: int = 42):
    """shingle array -> minhash signature, one numpy tile per document: the
    same hash family, seed and utf-8 gram packing as
    dedup._minhash_text_udf, so its signatures over shingles_col arrays are
    bit-identical to the text kernel's."""
    rng = np.random.default_rng(seed)
    P = np.uint64((1 << 31) - 1)
    A = rng.integers(1, int(P), num_hashes, dtype=np.uint64)
    B = rng.integers(0, int(P), num_hashes, dtype=np.uint64)

    def mh(shingles: pd.Series) -> pd.Series:
        out = []
        for arr in shingles:
            if arr is None or len(arr) == 0:
                out.append(None)
                continue
            # pack each shingle's first 8 utf-8 bytes into a uint64
            packed = np.frombuffer(
                np.asarray([s.encode("utf-8") for s in arr], dtype="S8").tobytes(),
                dtype=np.uint64,
            )
            x = ((packed >> np.uint64(31)) ^ packed) & P  # fold to 31 bits
            sig = ((A[:, None] * x[None, :] + B[:, None]) % P).min(axis=1)
            out.append(sig.astype(np.int64).tolist())
        return pd.Series(out, dtype=object)

    return F.pandas_udf(mh, ArrayType(LongType()))


def token_hashes_col(text_col):
    """Whitespace tokens -> 60-bit md5-derived hashes (array<long>). md5 is
    engine-independent (identical hex in Spark and DuckDB); 15 hex chars =
    60 bits keeps the ANSI long cast overflow-free."""
    tokens = F.split(F.lower(text_col), " ")
    return F.transform(
        tokens, lambda t: F.conv(F.substring(F.md5(t), 3, 15), 16, 10).cast("long")
    )


def simhash_from_hashes(hash_arr, bits: int = SIMHASH_BITS):
    """token-hash array -> simhash signature: bit b = sign of sum over tokens
    of (+-1 by token-hash bit b), one aggregate per bit over the
    pre-computed hash array."""
    def bit(b):
        contrib = F.aggregate(
            hash_arr,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (F.shiftright(h, b).bitwiseAND(F.lit(1).cast("long")) * 2 - 1),
        )
        return F.when(contrib > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ) * F.lit(1 << b).cast("long")

    return sum([bit(b) for b in range(bits)], F.lit(0).cast("long"))


def simhash_col(text_col, bits: int = SIMHASH_BITS):
    """text -> simhash in one Column (null for a null text); mirrors
    dedup._simhash_text_udf."""
    return F.when(
        text_col.isNotNull(), simhash_from_hashes(token_hashes_col(text_col), bits)
    )


def cosine_pairs_udf():
    """Exact cosine of two embedding columns, one numpy pass per Arrow
    batch (null when either side is null)."""

    def f(a, b):
        out = np.full(len(a), np.nan)
        ok = [
            i
            for i in range(len(a))
            if a.iloc[i] is not None and b.iloc[i] is not None
        ]
        if ok:
            A = np.stack([np.asarray(a.iloc[i], dtype=np.float64) for i in ok])
            Bm = np.stack([np.asarray(b.iloc[i], dtype=np.float64) for i in ok])
            cos = (A * Bm).sum(axis=1) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(Bm, axis=1)
            )
            out[ok] = cos
        s = pd.Series(out)
        return s.where(~np.isnan(out), None).astype(object)

    return F.pandas_udf(f, DoubleType())

"""Text analysis operators: language-ID heuristic, quality scoring, token
counting, document fingerprinting. All pure Column expressions except the
rolling-hash fingerprint (Arrow pandas UDF)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]

# tiny n-gram profiles for the language-ID heuristic (most-frequent trigrams
# per language from public frequency tables)
_LANG_TRIGRAMS = {
    "en": ["the", "and", "ing", "ion", "tio"],
    "de": ["der", "ein", "sch", "ich", "nde"],
    "fr": ["les", "ent", "ion", "des", "que"],
    "es": ["que", "ent", "ion", "los", "ado"],
}


def tokens_col(text_col):
    return F.split(F.lower(text_col), " ")


def token_count_col(text_col):
    """Whitespace token count plus a BPE-ish sub-token estimate: words longer
    than 6 chars count one extra sub-token per 4 chars."""
    toks = tokens_col(text_col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + 1
        + F.when(F.length(t) > 6, ((F.length(t) - 3) / 4).cast("long")).otherwise(0),
    )


def quality_cols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """length / punctuation-ratio / stopword-ratio quality features."""
    t = F.col(text_col)
    toks = tokens_col(t)
    n_tok = F.size(toks)
    stop = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS)))
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("stopword_ratio", F.round(stop / F.greatest(n_tok, F.lit(1)), 6))
        .withColumn("punct_ratio", F.round(punct / F.greatest(F.length(t), F.lit(1)), 6))
        .withColumn(
            "avg_token_len",
            F.round(
                F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
                / F.greatest(n_tok, F.lit(1)),
                6,
            ),
        )
    )


def lang_id_col(text_col):
    """n-gram-profile language guess (heuristic): the language whose top
    trigrams occur most often in the text; 'und' (undetermined) on ties/zero."""
    t = F.lower(text_col)
    scores = []
    for lang, grams in _LANG_TRIGRAMS.items():
        score = sum(
            [
                (F.length(t) - F.length(F.replace(t, F.lit(g), F.lit("")))) / 3
                for g in grams
            ],
            F.lit(0),
        )
        scores.append(F.struct(score.cast("long").alias("s"), F.lit(lang).alias("l")))
    best = F.array_max(F.array(*scores))
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))


def fingerprint_udf():
    """64-bit rolling (polynomial) hash over the whole document text —
    deterministic content fingerprint for shard-stable dedupe."""

    def fp(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        M = np.uint64(0xFFFFFFFFFFFFFFFF)
        for i, t in enumerate(texts):
            if t is None:
                out[i] = 0
                continue
            h = np.uint64(1469598103934665603)
            for ch in t.encode("utf-8"):
                h = np.uint64((h * np.uint64(31) + np.uint64(ch)) & M)
            out[i] = np.int64(h)
        return pd.Series(out)

    return F.pandas_udf(fp, LongType())

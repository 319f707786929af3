"""Text quality features: token, stopword, punctuation and token-length
ratios as pure Column expressions."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]


def tokens_col(text_col):
    return F.split(F.lower(text_col), " ")


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

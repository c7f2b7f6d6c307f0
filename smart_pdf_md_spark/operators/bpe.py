"""Corpus-vs-vocabulary operators: the word-frequency table and the
per-document out-of-vocabulary rate against it.

Both touch the corpus once (explode tokens, then a groupBy or an equi-join
against the vocabulary); everything after that is vocabulary-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens_col


def word_freq_table(docs: DataFrame, text_col: str = "text",
                    lowercase: bool = True) -> DataFrame:
    """→ (word, n) — the corpus' word-frequency table, its one
    corpus-sized pass. Whitespace tokenization (tokens_col semantics,
    shared with every other text operator here)."""
    toks = tokens_col(F.col(text_col))
    w = F.explode(toks).alias("word")
    out = docs.select(w)
    if lowercase:
        out = out.select(F.lower("word").alias("word"))
    return out.groupBy("word").agg(F.count("*").alias("n"))


def oov_rate(docs: DataFrame, vocab: DataFrame,
             text_col: str = "text", id_col: str = "doc_id",
             lowercase: bool = True) -> DataFrame:
    """→ (doc_id, n_tokens, n_oov, oov_rate) — per-document out-of-
    vocabulary rate against a word table (any (word, ...) relation:
    word_freq_table output filtered by min count, a shipped tokenizer
    vocab, a benchmark lexicon). The corpus-vs-vocabulary fit signal a
    pipeline checks before committing to a tokenizer — high OOV marks
    domains the vocab under-serves. Empty docs emit no row (no tokens to
    judge — the sub-token rule).

    Shape: exploded token stream LEFT-semi-style joined against the
    vocabulary on `word` (broadcast when the vocab fits), then one
    map-side-combinable per-doc count — ANSI-expressible end to end
    (DuckDB parity in tests/test_bpe.py)."""
    toks = tokens_col(F.col(text_col))
    stream = docs.select(F.col(id_col).alias("doc_id"),
                         F.explode(toks).alias("word"))
    if lowercase:
        stream = stream.select("doc_id", F.lower("word").alias("word"))
    marked = stream.join(
        vocab.select("word").distinct().withColumn("_in", F.lit(1)),
        "word", "left")
    return (marked.groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_tokens"),
                 F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
                 .cast("int").alias("n_oov"))
            .withColumn("oov_rate",
                        F.round(F.col("n_oov") / F.col("n_tokens")
                                + 1e-9, 4)))

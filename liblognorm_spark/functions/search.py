"""Keyword relevance search: BM25 scoring over a document table.

Complements the embedding tier (similarity.py) with the classic lexical
ranking — the tool a training-data pipeline uses for targeted corpus
probes ("find the docs about X") and lexical-vs-semantic retrieval
comparisons.

Spark-first shape, designed for 100 TB: for a literal query (a handful
of terms) there is no need for an inverted index or an explode —

- pass 1 collects THREE kinds of scalars in one tiny aggregate (corpus
  size N, total token count for avgdl, per-term document frequencies):
  a single map-side-combined reduction to one row, ~(len(terms)+2)
  numbers on the driver;
- pass 2 folds N/avgdl/idf into the plan as literals and scores every
  document with a pure projection (per-term tf via size(filter(words)))
  followed by TakeOrdered for the top-k — no shuffle at all beyond the
  two reductions.

Per-term tf/df expressions are JVM higher-order functions over the
token array (no Python, no explode).  Scores leave as micro-scaled
longs (the similarity-tier convention), and every double the score
depends on (avgdl, idf) is computed from exact integers with a fixed
expression shape, so the DuckDB twin reproduces the values bit-exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from liblognorm_spark.functions.dedup import _words

BM25_K1 = 1.2
BM25_B = 0.75


def _tf(words, term: str):
    """Occurrences of `term` in the token array — a JVM-side
    size(filter(...)) projection, no explode."""
    return F.size(F.filter(words, lambda w: w == F.lit(term)))


def corpus_stats(df, query_terms: list[str], text_col: str = "text"):
    """(N, avgdl, {term: df}) in ONE map-side-combined aggregate.
    avgdl is float(sum)/float(count) of exact integers — the expression
    the oracle mirrors verbatim.  Terms are lower()-ed to match the
    lower()-ed token stream (a verbatim 'Customer' would otherwise
    silently match nothing); returned df keys are the lowered forms."""
    query_terms = [t.lower() for t in query_terms]
    words = _words(F.lower(F.col(text_col)))
    row = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.size(words).alias("dl"),
            *[(_tf(words, t) > 0).cast("int").alias(f"p{i}")
              for i, t in enumerate(query_terms)],
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("dl").alias("sdl"),
            *[F.sum(f"p{i}").alias(f"df{i}") for i in range(len(query_terms))],
        )
        .collect()[0]
    )
    n = int(row["n"])
    avgdl = float(row["sdl"]) / float(n) if n else 0.0
    # sum() over zero rows is NULL, not 0 — `or 0` keeps the empty /
    # all-null-text corpus returning zeros instead of a TypeError
    dfs = {t: int(row[f"df{i}"] or 0) for i, t in enumerate(query_terms)}
    return n, avgdl, dfs


def bm25_idf(n: int, df_t: int) -> float:
    """Robertson-Sparck Jones idf with the +1 floor (Lucene's form —
    never negative).  Computed driver-side from exact integers; DuckDB's
    ln() and CPython's math.log resolve to the same libm on one host."""
    return math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)


def bm25_topk(df, query_terms: list[str], k: int = 10,
              k1: float = BM25_K1, b: float = BM25_B,
              text_col: str = "text", id_col: str = "doc_id"):
    """Top-k documents by BM25 for a literal term list.  Returns
    (id, score_micros) ordered by (score desc, id); zero-score docs are
    excluded.  Two reductions total (stats + top-k); scoring is one
    codegen projection with all corpus constants folded in as
    literals."""
    query_terms = [t.lower() for t in query_terms]
    n, avgdl, dfs = corpus_stats(df, query_terms, text_col)
    words = _words(F.lower(F.col(text_col)))
    dl = F.size(words).cast("double")
    score = F.lit(0.0)
    for t in query_terms:
        idf = bm25_idf(n, dfs[t])
        tf = _tf(words, t).cast("double")
        score = score + F.lit(idf) * (tf * F.lit(k1 + 1.0)) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dl / F.lit(avgdl)))
        )
    scored = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            (score * F.lit(1000000.0)).cast("long").alias("score_micros"),
        )
        .where(F.col("score_micros") > 0)
    )
    return scored.orderBy(F.col("score_micros").desc(), F.col(id_col)).limit(k)

"""BM25 scoring (Lucene-8 formula) — SQL-expression and scalar twins.

Pinned semantics (SURVEY.md §7 risk 1):
  idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
  score(t,d) = idf(t) * tf / (tf + k1 * (1 - b + b * dl/avgdl))
  k1 = 1.2, b = 0.75 (BASELINE.json:6), no (k1+1) factor
  [public: Lucene BM25Similarity; LUCENE-8563 dropped (k1+1) in Lucene 8 —
  rank-preserving], exact doc length by default (build_index's
  `quantize_norms` flag emulates Lucene's lossy 1-byte norms).
Tie-break: score DESC, doc_id ASC (BASELINE.json:14 rank-identity).

The SQL form keeps the entire exact-scoring path inside Catalyst whole-stage
codegen and makes it DuckDB-oracle-checkable (SURVEY.md D8).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import BM25_B, BM25_K1


def idf_expr(df_col: Column, n_docs: Column) -> Column:
    return F.log(
        F.lit(1.0)
        + (n_docs.cast("double") - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    )


def tf_norm_expr(
    tf_col: Column, dl_col: Column, avgdl: Column, k1: float = BM25_K1, b: float = BM25_B
) -> Column:
    return tf_col.cast("double") / (
        tf_col.cast("double")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl_col.cast("double") / avgdl)
    )


def idf(df: int, n_docs: int) -> float:
    """Scalar idf: the one every index search scores with."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))

"""Corpus build: analysis → tokens → tf / doc stats / corpus stats.

SURVEY.md §2.C1–C4. Everything here is built-in DataFrame ops — the tf and
stats aggregations are Catalyst partial+final hash aggregates (the map-reduce
of the reference's refine loop, done by the engine for free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tokenizer import tokenize_udf


def with_tokens(docs: DataFrame, text_col: str = "text", analyzer: str = "standard") -> DataFrame:
    """Attach `toks array<string>` and `dl int` (token count, C3).
    analyzer='english' applies the stopword+S-stem chain as a pure Catalyst
    array expression AFTER the vectorized tokenizer (no extra UDF)."""
    toks = tokenize_udf(F.col(text_col))
    if analyzer == "english":
        from .tokenizer import english_tokens_expr

        toks = english_tokens_expr(toks)
    elif analyzer == "french":
        from .tokenizer import french_tokens_expr

        toks = french_tokens_expr(toks)
    elif analyzer == "german":
        from .tokenizer import german_tokens_expr

        toks = german_tokens_expr(toks)
    elif analyzer == "edge_ngram":
        from .tokenizer import edge_tokens_expr

        toks = edge_tokens_expr(toks)
    elif analyzer == "shingle":
        from .tokenizer import shingle_tokens_expr

        toks = shingle_tokens_expr(toks)
    elif analyzer == "synonyms":
        from .tokenizer import SYNONYM_FOLD

        fold = F.create_map(
            *[F.lit(x) for kv in sorted(SYNONYM_FOLD.items()) for x in kv]
        )
        toks = F.transform(toks, lambda t: F.coalesce(fold[t], t))
    return docs.withColumn("toks", toks).withColumn("dl", F.size("toks"))


def tokens(docs_with_toks: DataFrame) -> DataFrame:
    """C1: one row per (doc_id, pos, term) via posexplode (positions kept for
    phrase queries, D9)."""
    return docs_with_toks.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    )


def tf_table(tokens_df: DataFrame, with_positions: bool = False) -> DataFrame:
    """C2: (term, doc_id) → tf [+ sorted position list]."""
    aggs = [F.count("*").alias("tf")]
    if with_positions:
        aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    return tokens_df.groupBy("term", "doc_id").agg(*aggs)


def doc_stats(docs_with_toks: DataFrame) -> DataFrame:
    """C3: doc_id → dl."""
    return docs_with_toks.select("doc_id", "dl")


def term_stats(tf: DataFrame) -> DataFrame:
    """C4: term → df (doc freq), cf (collection freq)."""
    return tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )


def corpus_base(
    docs: DataFrame, text_col: str = "text", analyzer: str = "standard"
) -> DataFrame:
    """One compact row per doc: (doc_id, dl, terms array, tfs array).

    Map-side combine inside the analyzer UDF (engine.tokenizer
    .term_counts_udf): per-doc term frequencies need NO shuffle — counting
    happens in the same Arrow batch that tokenizes. At web scale this
    removes the 1.4× token-row explode + groupBy(term, doc_id) exchange
    entirely (the reference's map-phase combiner, done vectorized); the only
    large shuffle left in the build is the salted repartition-by-term
    (BASELINE.json north_star). Cache THIS frame (one row per doc), not the
    exploded tf table (one row per term-doc pair)."""
    from .tokenizer import make_term_counts_udf

    term_counts_udf = make_term_counts_udf(analyzer)
    return docs.select(
        "doc_id", term_counts_udf(F.col(text_col)).alias("_tc")
    ).select(
        "doc_id",
        F.col("_tc.terms").alias("terms"),
        F.col("_tc.tfs").alias("tfs"),
        F.aggregate(F.col("_tc.tfs"), F.lit(0), lambda a, x: a + x).alias("dl"),
    )


def exploded_tf(base: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl) rows from corpus_base — JVM-side arrays_zip +
    explode, no Python and no shuffle."""
    return base.select(
        "doc_id",
        "dl",
        F.explode(F.arrays_zip("terms", "tfs")).alias("_z"),
    ).select(
        F.col("_z.terms").alias("term"), "doc_id", F.col("_z.tfs").alias("tf"), "dl"
    )


def corpus_stats(doc_stats_df: DataFrame) -> tuple[int, float]:
    """C4: N (docCount), avgdl — tiny driver collect, broadcast implicitly
    as literals in downstream expressions (Lucene CollectionStatistics
    [public]). An empty corpus gives (0, 0.0)."""
    row = doc_stats_df.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n = int(row["n"])
    return n, (float(row["avgdl"]) if n else 0.0)

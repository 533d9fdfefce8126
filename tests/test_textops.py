"""Text-analysis operator tests (language-ID, quality, tokens, fingerprints)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.io import read_fixture
from engine.textops import (
    language_id,
    language_id_udf,
    quality_score,
    with_fingerprint,
    with_quality_metrics,
    with_token_counts,
)


def test_language_id_samples():
    assert language_id("the cat sat on the mat and it was good") == "en"
    assert language_id("le chat est dans la maison et il est content") == "fr"
    assert language_id("el gato es grande y la casa es bonita") == "es"
    assert language_id("der hund ist nicht klein und das haus ist gross") == "de"
    assert language_id("这是一个中文句子没有空格") == "zh"
    assert language_id("xyzzy qwerty plugh") == "und"
    assert language_id("") == "und"


def test_language_id_udf_spark(spark):
    df = spark.createDataFrame(
        [("the cat and the dog was here",), ("le chat est dans la maison",)],
        "text string",
    )
    out = [r[0] for r in df.select(language_id_udf("text")).collect()]
    assert out == ["en", "fr"]


def test_quality_metrics(spark, sf_dir):
    docs = read_fixture(spark, sf_dir, "documents")
    m = with_quality_metrics(docs).collect()
    for r in m[:50]:
        toks = r["text"].split(" ")
        assert r["n_tokens"] == len(toks)
        assert r["n_chars_q"] == len(r["text"])
        assert r["punct_ratio"] == 0.0  # fixture text is pure alnum+space
        assert 0.0 <= r["stopword_ratio"] <= 1.0
    q = quality_score(docs)
    vals = [r["quality_score"] for r in q.collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert any(v >= 0.75 for v in vals)  # clean fixture docs score high


def test_token_counts(spark, sf_dir):
    docs = read_fixture(spark, sf_dir, "documents")
    t = with_token_counts(docs).collect()
    for r in t[:50]:
        assert r["ws_tokens"] == len(r["text"].split())
        assert r["bpe_est_tokens"] >= r["ws_tokens"]  # subwords ≥ words


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " HELLO\tWORLD ")],
        "doc_id long, text string",
    )
    fps = [r["fingerprint"] for r in with_fingerprint(df).collect()]
    assert fps[0] == fps[1] == fps[2]


# --- round-3 batch 2: aggregation tail (boxplot / MAD / string_stats /
# top_metrics / bucket_sort / max_bucket) — branch coverage the 1-config
# driver-contract queries can't reach.

from engine.aggs import (  # noqa: E402
    bucket_sort_agg,
    median_absolute_deviation_agg,
    string_stats_agg,
    top_metrics_agg,
)


def test_mad_known_values(spark):
    # values 1..5: median 3, |x-3| = [2,1,0,1,2], median = 1
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 6)], "grp string, v double"
    )
    rows = median_absolute_deviation_agg(df, "v", "grp").collect()
    assert rows[0].mad == 1.0


def test_string_stats_entropy_known(spark):
    # "aab" → p(a)=2/3, p(b)=1/3 → H = 0.9183 bits
    df = spark.createDataFrame([("g", "aab")], "grp string, s string")
    r = string_stats_agg(df, "s", "grp").collect()[0]
    assert (r.cnt, r.min_len, r.max_len, r.avg_len) == (1, 3, 3, 3.0)
    assert abs(r.entropy - 0.9183) < 1e-4


def test_top_metrics_tiebreak_on_second_key(spark):
    df = spark.createDataFrame(
        [("g", 10, 1, 100.0), ("g", 10, 2, 200.0), ("g", 9, 3, 300.0)],
        "grp string, s long, t long, m double",
    )
    r = top_metrics_agg(df, "grp", "s", "m", "t").collect()[0]
    assert (r.top_sort, r.top_metric) == (10, 200.0)  # tie on s → larger t


def test_bucket_sort_from_zero_skips_window(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 3.0), ("c", 2.0)], "grp string, v double"
    )
    rows = bucket_sort_agg(df, "grp", "v", from_=0, size=2).collect()
    assert [(r.grp, r.sum_v) for r in rows] == [("b", 3.0), ("c", 2.0)]


def test_bucket_sort_offset(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 3.0), ("c", 2.0)], "grp string, v double"
    )
    rows = bucket_sort_agg(df, "grp", "v", from_=1, size=2).collect()
    assert [r.grp for r in rows] == ["c", "a"]


# --- corpus line dedup + dataset-card report (round 3) -----------------------

from engine.textops import corpus_report, remove_boilerplate_lines  # noqa: E402


def test_line_dedup_drops_only_hot_lines(spark):
    # 'a b c' appears in 3 docs (>= min_df 3); every other line is unique
    docs = spark.createDataFrame(
        [
            (1, "a b c x y z"),
            (2, "a b c p q r"),
            (3, "a b c"),
            (4, "u v w"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_boilerplate_lines(docs, line_tokens=3, min_df=3).collect()
    }
    assert out[1].kept_text == "x y z" and out[1].n_dropped == 1
    assert out[2].kept_text == "p q r" and out[2].n_dropped == 1
    assert out[3].kept_text == "" and out[3].n_kept == 0 and out[3].n_dropped == 1
    assert out[4].kept_text == "u v w" and out[4].n_dropped == 0


def test_line_dedup_remainder_window_and_order(spark):
    # 5 tokens at width 2 -> lines 'a b', 'c d', 'e' (remainder kept);
    # reassembly preserves original order
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    r = remove_boilerplate_lines(docs, line_tokens=2, min_df=2).collect()[0]
    assert r.kept_text == "a b c d e" and r.n_kept == 3 and r.n_dropped == 0


def test_line_dedup_df_is_per_document_not_per_occurrence(spark):
    # the same line twice in ONE doc counts df=1 -> survives min_df=2
    docs = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    r = remove_boilerplate_lines(docs, line_tokens=2, min_df=2).collect()[0]
    assert r.n_dropped == 0 and r.kept_text == "a b a b"


def test_corpus_report_shares_sum_to_one(spark, sf_dir):
    docs = read_fixture(spark, sf_dir, "documents")
    rows = corpus_report(docs).collect()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-2  # rounding
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert r.mean_tokens > 0 and r.mean_chars > r.mean_tokens  # spaces

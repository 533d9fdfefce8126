"""Refine-stage tests: html_strip invariant (BASELINE.json:15), dedup, doc_id."""

import pandas as pd
from pyspark.sql import functions as F

from engine.pages import generate_pages, pages_df
from engine.refine import (
    assign_doc_ids,
    dedup_latest,
    extract_text_series,
    html_strip_udf,
    refine_pages,
)


def test_extract_text_invariant_pandas():
    # byte-identical per url over the whole synthetic table (vectorized path)
    pdf = generate_pages(500, seed=42)
    out = extract_text_series(pdf["html"])
    assert (out == pdf["text"]).all()


def test_extract_text_edge_cases():
    cases = {
        b"<p>a &amp; b</p>": "a & b",
        b"<P CLASS='x'>Mixed <b>Case</b></P>": "Mixed Case",
        b"<body>keep<!-- drop --><script>no();</script></body>": "keep",
        b"<head><title>drop me</title></head><body>only body</body>": "only body",
        b"a\n\n  b\tc": "a b c",
        b"&lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;x": "<tag> \"q\" 's' x",
    }
    out = extract_text_series(pd.Series(list(cases.keys())))
    assert list(out) == list(cases.values())


def test_html_strip_invariant_spark(spark):
    pages = pages_df(spark, 300, seed=1)
    bad = pages.filter(html_strip_udf(F.col("html")) != F.col("text")).count()
    assert bad == 0


def test_dedup_latest_keeps_newest(spark):
    pages = pages_df(spark, 400, seed=42)
    total = pages.count()
    deduped = dedup_latest(pages)
    n_urls = pages.select("url").distinct().count()
    assert deduped.count() == n_urls < total  # generator emits ~3% re-crawls
    # every kept row has the max warc_ts of its url
    mx = pages.groupBy("url").agg(F.max("warc_ts").alias("mx"))
    assert deduped.join(mx, "url").filter(F.col("warc_ts") != F.col("mx")).count() == 0


def test_doc_ids_dense_and_deterministic(spark):
    pages = dedup_latest(pages_df(spark, 200, seed=3))
    a = assign_doc_ids(pages).select("doc_id", "url")
    n = a.count()
    assert a.agg(F.min("doc_id"), F.max("doc_id")).collect()[0] == (0, n - 1)
    # stable across repartitioning (parallelism-invariance)
    b = assign_doc_ids(pages.repartition(13)).select("doc_id", "url")
    assert a.exceptAll(b).count() == 0


def test_refine_pages_end_to_end(spark):
    docs = refine_pages(pages_df(spark, 150, seed=5))
    assert docs.columns == ["doc_id", "url", "warc_ts", "lang", "text"]
    assert docs.count() == docs.select("url").distinct().count()


def test_refine_lang_filter_counts_match_kept_rows(spark):
    """The doc_id offset map comes from a JVM aggregate (count of per-url
    winners passing the lang filter) while the rows themselves are kept by
    the sorted mapInPandas pass — the two must agree exactly or doc_ids
    collide. Exercised with a lang filter (the max_by branch) and with
    planted re-crawls where the newest crawl is in a DIFFERENT language
    (winner must be dropped, older crawl must not resurrect)."""
    pages = pages_df(spark, 300, seed=11)
    # plant: for a deterministic url subset add a NEWER crawl with a
    # different lang (NOT limit(): a lazy limit may pick different rows in
    # the counting action vs the dedup action)
    dup = (
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(15)) == 0)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 3650 DAYS"))
        .withColumn("lang", F.lit("xx"))
    )
    both = pages.unionByName(dup)
    docs = refine_pages(both, lang="en").cache()
    n = docs.count()
    # dense ids 0..n-1, no collisions
    assert docs.select("doc_id").distinct().count() == n
    assert docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0] == (0, n - 1)
    # every kept doc is lang=en and is its url's latest crawl overall:
    # none of the 20 planted urls (newest crawl lang=xx) may appear
    planted_urls = {r["url"] for r in dup.select("url").collect()}
    kept_urls = {r["url"] for r in docs.select("url").collect()}
    assert not (planted_urls & kept_urls)
    docs.unpersist()

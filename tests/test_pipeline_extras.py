"""Tests for the LLM-training-pipeline extras: sequence packing (pack.py),
benchmark decontamination (decontam.py), stratified sampling / remix
(sample.py)."""

import pytest
from pyspark.sql import functions as F

from engine.decontam import decontaminate, ngram_overlap
from engine.io import read_fixture
from engine.pack import pack_documents
from engine.sample import (
    portable_hash_expr,
    remix_rates,
    remix_to_target,
    stratified_sample,
)


# --- packing ---------------------------------------------------------------


def test_pack_matches_serial_prefix_sum(spark, sf_dir):
    docs = read_fixture(spark, sf_dir, "documents")
    rows = pack_documents(docs, seq_len=64).orderBy("doc_id").collect()
    # serial reference: concat in doc_id order, running offset
    ref = sorted(
        (r["doc_id"], len(r["text"].split(" ")))
        for r in docs.select("doc_id", "text").collect()
    )
    acc = 0
    for row, (did, nt) in zip(rows, ref):
        assert row["doc_id"] == did
        assert row["n_tokens"] == nt
        assert row["tok_start"] == acc
        assert row["pack_first"] == acc // 64
        assert row["pack_last"] == (acc + nt - 1) // 64
        acc += nt


def test_pack_bucket_scheme_invariance(spark, sf_dir):
    """The bucket decomposition is an implementation detail: any range
    bucket count AND the default fixed-width path give the identical global
    prefix sum."""
    docs = read_fixture(spark, sf_dir, "documents")
    n = docs.count()
    a = pack_documents(docs, seq_len=128, n_docs=n, n_buckets=1).orderBy("doc_id").collect()
    b = pack_documents(docs, seq_len=128, n_docs=n, n_buckets=7).orderBy("doc_id").collect()
    c = pack_documents(docs, seq_len=128).orderBy("doc_id").collect()  # fixed width
    d = pack_documents(docs, seq_len=128, bucket_width=64).orderBy("doc_id").collect()
    assert (
        [tuple(r) for r in a]
        == [tuple(r) for r in b]
        == [tuple(r) for r in c]
        == [tuple(r) for r in d]
    )


def test_pack_empty(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert pack_documents(empty, seq_len=64).count() == 0


def test_remix_rates_no_target_stratum_present():
    from engine.sample import remix_rates

    assert remix_rates({"en": 100}, {"xx": 1.0}) == {"xx": 0}


# --- decontamination -------------------------------------------------------


def test_decontam_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (10, "a quick brown fox appeared"),        # shares "quick brown fox"
            (11, "totally unrelated words here now"),  # clean
            (12, "over the lazy dog sleeps"),          # shares 2 trigrams
            (13, "fox jumps"),                         # < 3 tokens of overlap run
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_shared"]
        for r in ngram_overlap(train, bench, n=3).collect()
    }
    assert got == {10: 1, 12: 2}
    kept = sorted(
        r["doc_id"] for r in decontaminate(train, bench, n=3).collect()
    )
    assert kept == [11, 13]


def test_decontam_short_docs_contribute_nothing(spark):
    """Docs shorter than n tokens yield no n-grams on either side."""
    bench = spark.createDataFrame([(0, "ab cd")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "ab cd"), (2, "ab cd ef")], "doc_id long, text string"
    )
    assert ngram_overlap(train, bench, n=3).count() == 0


def test_decontam_distinct_ngrams_counted_once(spark):
    """A repeated n-gram in the train doc counts once (distinct semantics)."""
    bench = spark.createDataFrame([(0, "x y z")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "x y z x y z x y z")], "doc_id long, text string"
    )
    rows = ngram_overlap(train, bench, n=3).collect()
    assert len(rows) == 1 and rows[0]["n_shared"] == 1


# --- sampling / remix ------------------------------------------------------


def test_stratified_deterministic_and_parallelism_invariant(spark, sf_dir):
    docs = read_fixture(spark, sf_dir, "documents")
    rates = {"en": 50, "de": 30, "fr": 10, "es": 80, "zh": 100}
    a = sorted(
        r["doc_id"]
        for r in stratified_sample(docs, "lang", rates).select("doc_id").collect()
    )
    b = sorted(
        r["doc_id"]
        for r in stratified_sample(
            docs.repartition(13), "lang", rates
        ).select("doc_id").collect()
    )
    assert a == b and len(a) > 0
    # zh kept whole, fr heavily cut
    zh_total = docs.filter(F.col("lang") == "zh").count()
    kept = stratified_sample(docs, "lang", rates)
    assert kept.filter(F.col("lang") == "zh").count() == zh_total
    fr_total = docs.filter(F.col("lang") == "fr").count()
    fr_kept = kept.filter(F.col("lang") == "fr").count()
    assert fr_kept < fr_total * 0.3


def test_stratified_missing_stratum_dropped(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "xx") for i in range(100)],
        "doc_id long, lang string",
    )
    kept = stratified_sample(docs, "lang", {"en": 100})
    assert kept.filter(F.col("lang") == "xx").count() == 0
    assert kept.filter(F.col("lang") == "en").count() == 50


def test_portable_hash_matches_duckdb(spark):
    import duckdb

    docs = spark.createDataFrame(
        [(i,) for i in range(1000)], "doc_id long"
    )
    s = [
        (r["doc_id"], r["h"])
        for r in docs.select(
            "doc_id", portable_hash_expr().alias("h")
        ).collect()
    ]
    d = duckdb.sql(
        "SELECT i, ((i % 67108864) * 2654435761 + 12345) % 4294967296 "
        "FROM range(1000) t(i) ORDER BY i"
    ).fetchall()
    assert sorted(s) == [(a, b) for a, b in d]


def test_remix_rates_waterfilling():
    counts = {"en": 700, "de": 100, "fr": 100, "zh": 100}
    targets = {"en": 0.25, "de": 0.25, "fr": 0.25, "zh": 0.25}
    rates = remix_rates(counts, targets, denom=100)
    # binding strata (share 0.1 vs target 0.25) keep everything
    assert rates["de"] == rates["fr"] == rates["zh"] == 100
    # en sheds down to match: 0.25*0.4/0.7 ≈ 0.1428 → rate 14
    assert rates["en"] == 14
    # zero/absent strata
    assert remix_rates({}, targets) == {s: 0 for s in targets}
    assert remix_rates({"en": 10}, {"en": 0.5, "de": 0.5})["de"] == 0


def test_remix_to_target_moves_mix(spark, sf_dir):
    docs = read_fixture(spark, sf_dir, "documents")
    targets = {s: 0.2 for s in ("en", "de", "fr", "es", "zh")}
    kept, rates = remix_to_target(docs, "lang", targets)
    assert max(rates.values()) == 100  # no stratum upsampled, one binding
    got = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    total = sum(got.values())
    # every stratum within a few points of the 20% target (integer rates +
    # hash granularity on a few hundred docs → loose tolerance)
    for s in targets:
        assert abs(got[s] / total - 0.2) < 0.08, (s, got, rates)


def test_sample_plan_is_shuffle_free(spark, sf_dir):
    """The stratified filter must compile to a pure scan+filter — no
    Exchange anywhere (the whole point of hash-based sampling at 100 TB)."""
    docs = read_fixture(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "lang", {"en": 50, "zh": 100})
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- deterministic training shuffle (round 3) ---------------------------------


def test_training_shuffle_parallelism_invariant(spark, sf_dir):
    from engine.sample import training_shuffle

    docs = read_fixture(spark, sf_dir, "documents")
    a = training_shuffle(docs, n_shards=8).select(
        "doc_id", "shuffle_key", "shard"
    )
    b = training_shuffle(docs.repartition(17), n_shards=8).select(
        "doc_id", "shuffle_key", "shard"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    rows = a.collect()
    assert all(0 <= r.shard < 8 for r in rows)
    assert all(r.shuffle_key == ((r.doc_id % (1 << 26)) * 2654435761 + 12345) % (1 << 32) for r in rows)
    assert all(r.shard == (r.shuffle_key * 8) // (1 << 32) for r in rows)
    # high-bit sharding must NOT degenerate to round-robin over
    # sequential ids (constant shard delta); the multiplicative hash's
    # high bits walk a varying-stride Weyl sequence instead
    seq = [r.shard for r in sorted(rows, key=lambda r: r.doc_id)]
    deltas = {(b - a) % 8 for a, b in zip(seq[:-1], seq[1:])}
    assert len(deltas) > 1, deltas


def test_children_agg_zero_child_bucket(spark):
    from engine.aggs import children_agg

    parents = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B")], "custkey long, seg string"
    )
    children = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0)], "custkey long, price double"
    )
    out = {r.seg: r for r in children_agg(parents, children, "custkey", "seg", "price").collect()}
    assert out["A"].parent_count == 2 and out["A"].child_count == 3
    assert out["A"].child_sum == 16.0
    assert out["B"].parent_count == 1 and out["B"].child_count == 0
    assert out["B"].child_sum == 0.0


# --- parent / categorize_text / frequent pairs (round 3) ----------------------


def test_parent_agg_dedups_parents(spark):
    from engine.aggs import parent_agg

    parents = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "custkey long, bal double"
    )
    children = spark.createDataFrame(
        [(1, "HI"), (1, "HI"), (1, "LO"), (2, "HI")], "custkey long, prio string"
    )
    out = {
        r.prio: r
        for r in parent_agg(parents, children, "custkey", "prio", "bal").collect()
    }
    # parent 1 has two HI children but counts once per bucket
    assert out["HI"].parent_count == 2 and out["HI"].parent_avg == 15.0
    assert out["LO"].parent_count == 1 and out["LO"].parent_avg == 10.0


def test_categorize_text_drops_variable_tokens(spark):
    from engine.aggs import categorize_text_agg

    docs = spark.createDataFrame(
        [
            (1, "failed to connect node17 retry"),
            (2, "failed to connect node99 retry"),
            (3, "ok"),
            (4, "123 456"),
        ],
        "doc_id long, text string",
    )
    rows = categorize_text_agg(docs, n_tokens=3).collect()
    got = {r.category: r.doc_count for r in rows}
    assert got == {"failed to connect": 2, "ok": 1}


def test_frequent_pairs_respects_support_and_vocab(spark):
    from engine.aggs import frequent_pairs_agg

    # docs: pair (a,b) co-occurs 3x; c too rare (df=1); d co-occurs with a 1x
    tf = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 1), (2, "a", 1), (2, "b", 1),
         (3, "a", 1), (3, "b", 1), (3, "d", 1), (4, "c", 1)],
        "doc_id long, term string, tf long",
    )
    ts = spark.createDataFrame(
        [("a", 3, 3), ("b", 3, 3), ("c", 1, 1), ("d", 1, 1)],
        "term string, df long, cf long",
    )
    rows = frequent_pairs_agg(
        tf, ts, min_df=2, max_df=10, min_support=2, top=5
    ).collect()
    assert [(r.term_a, r.term_b, r.support) for r in rows] == [("a", "b", 3)]


def test_cumulative_cardinality_counts_first_occurrence_only(spark):
    from engine.aggs import cumulative_cardinality_agg

    ev = spark.createDataFrame(
        [
            (1, "2024-01-05 00:00:00"), (1, "2024-02-01 00:00:00"),
            (2, "2024-01-20 00:00:00"), (3, "2024-03-10 00:00:00"),
            (2, "2024-03-11 00:00:00"),
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = cumulative_cardinality_agg(ev, "ts", "user_id").collect()
    got = [(r.bucket.month, r.distinct_so_far) for r in rows]
    # Jan: users 1,2 new -> 2; Feb: none new -> still 2; Mar: user 3 -> 3
    assert got == [(1, 2), (2, 2), (3, 3)]


def test_normalize_pct_sums_to_100(spark):
    from engine.aggs import normalize_agg

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 6.0), ("c", 2.0)],
        "k string, v double",
    )
    rows = normalize_agg(df, "k", "v").collect()
    got = {r.k: (r.value_sum, r.pct_of_sum) for r in rows}
    assert got == {"a": (2.0, 20.0), "b": (6.0, 60.0), "c": (2.0, 20.0)}


def test_temperature_rates_flatten_domains():
    from engine.sample import temperature_rates

    # alpha=0 -> uniform weights: tiny domain kept whole, big one cut hard
    r0 = temperature_rates({"big": 900, "small": 100}, alpha=0.0, target_total=200)
    assert r0["small"] == 1000  # 100 expected from a 100-doc domain -> keep all
    assert r0["big"] == 111     # floor(1000 * 100/900)
    # alpha=1 -> proportional: both keep 20%
    r1 = temperature_rates({"big": 900, "small": 100}, alpha=1.0, target_total=200)
    assert r1 == {"big": 200, "small": 200}


def test_temperature_sample_deterministic(spark, sf_dir):
    from engine.sample import portable_hash_expr, temperature_sample

    docs = read_fixture(spark, sf_dir, "documents")
    a, rates = temperature_sample(
        docs, "source", 0.5, 250, hash_expr=portable_hash_expr()
    )
    b, _ = temperature_sample(
        docs.repartition(13), "source", 0.5, 250, hash_expr=portable_hash_expr()
    )
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )
    assert all(0 <= v <= 1000 for v in rates.values())


def test_unigram_perplexity_toy_corpus(spark):
    import math

    from engine.textops import unigram_perplexity

    # corpus: 4 tokens total; p(a)=0.5, p(b)=0.25, p(c)=0.25
    tf = spark.createDataFrame(
        [(1, "a", 2), (2, "b", 1), (2, "c", 1)],
        "doc_id long, term string, tf long",
    )
    ts = spark.createDataFrame(
        [("a", 1, 2), ("b", 1, 1), ("c", 1, 1)], "term string, df long, cf long"
    )
    got = {r.doc_id: r.ppl for r in unigram_perplexity(tf, ts, 4.0).collect()}
    assert got[1] == round(math.exp(-math.log(0.5)), 4) == 2.0
    assert got[2] == round(math.exp(-(math.log(0.25) + math.log(0.25)) / 2), 4) == 4.0


def test_percentiles_bucket_exact_interpolation(spark):
    from engine.aggs import percentiles_bucket_agg

    ev = spark.createDataFrame(
        [(f"2024-0{m}-01 00:00:00", float(v))
         for m, v in [(1, 10), (2, 20), (3, 30), (4, 40)]],
        "ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    row = percentiles_bucket_agg(ev, "ts", "value").collect()[0]
    # bucket sums 10,20,30,40 -> p25=17.5, p50=25, p75=32.5 (linear interp)
    assert (row.p25, row.p50, row.p75) == (17.5, 25.0, 32.5)


def test_chunk_windows_overlap_and_tail(spark):
    from engine.textops import chunk_windows

    docs = spark.createDataFrame(
        [(1, " ".join(str(i) for i in range(10))), (2, "a b")],
        "doc_id long, text string",
    )
    rows = chunk_windows(docs, chunk_size=5, overlap=2).collect()
    got = {(r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text) for r in rows}
    # doc 1: starts 0,3,6 -> [0..4], [3..7], [6..9] (tail short)
    assert got[(1, 0)] == (5, "0 1 2 3 4")
    assert got[(1, 1)] == (5, "3 4 5 6 7")
    assert got[(1, 2)] == (4, "6 7 8 9")
    # doc 2 shorter than a chunk -> one window
    assert got[(2, 0)] == (2, "a b")
    assert len(got) == 4


def test_chunk_windows_shuffle_free(spark, sf_dir):
    from engine.textops import chunk_windows

    docs = read_fixture(spark, sf_dir, "documents")
    p = chunk_windows(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p


def test_chunk_windows_rejects_bad_overlap(spark):
    import pytest as _pt

    from engine.textops import chunk_windows

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pt.raises(ValueError):
        chunk_windows(docs, chunk_size=4, overlap=4)


def test_date_histogram_filled_emits_empty_buckets(spark):
    from engine.aggs import date_histogram_filled

    ev = spark.createDataFrame(
        [("2024-01-01 00:00:00",), ("2024-01-03 00:00:00",),
         ("2024-01-03 01:00:00",)],
        "ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = date_histogram_filled(ev, "ts", unit="day").collect()
    got = [(r.bucket.day, r.doc_count) for r in rows]
    # Jan 2 has no events but must appear with 0
    assert got == [(1, 1), (2, 0), (3, 2)]


def test_terms_agg_missing_buckets_nulls(spark):
    from engine.aggs import terms_agg_missing

    df = spark.createDataFrame(
        [("a",), (None,), ("a",), (None,), (None,)], "k string"
    )
    rows = terms_agg_missing(df, "k", "N/A").collect()
    assert [(r.key, r.doc_count) for r in rows] == [("N/A", 3), ("a", 2)]


def test_temperature_rates_null_stratum_kept_zero():
    from engine.sample import temperature_rates

    r = temperature_rates({"a": 100, None: 50}, alpha=0.5, target_total=50)
    assert r.get("a", 0) > 0 and None not in r


def test_percentiles_bucket_fractional_labels(spark):
    from engine.aggs import percentiles_bucket_agg

    ev = spark.createDataFrame(
        [("2024-01-0%d 00:00:00" % d, 1.0) for d in range(1, 5)],
        "ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = percentiles_bucket_agg(ev, "ts", "value", percents=[2.5, 25.0], unit="day")
    assert out.columns == ["p2_5", "p25"]


def test_temperature_rates_null_only_and_zero_target():
    from engine.sample import temperature_rates

    # early return must also drop the None key
    r = temperature_rates({"a": 100, None: 50}, alpha=0.5, target_total=0)
    assert r == {"a": 0}
    assert temperature_rates({None: 50}, alpha=0.5, target_total=10) == {}

"""English analyzer option (VERDICT r03 #2): Lucene default English stop set
+ Harman's 3-rule S-stemmer [public: Harman 1991; Lucene EnglishAnalyzer].

Pins: (1) the pure-Python stemmer against Harman's rules, (2) the Catalyst
column chain (english_tokens_expr) and the fused Arrow counting UDF against
the Python reference, (3) indexed-path parity — an english index scores a
stemmed query identically to the exact english corpus path, and (4) the
analyzer-mismatch guard raises instead of silently missing."""

import pytest
from pyspark.sql import functions as F

from engine.corpus import corpus_base, with_tokens
from engine.index import build_index
from engine.searcher import LoadedIndex
from engine.tokenizer import ENGLISH_STOPWORDS, analyze, s_stem, tokenize

PLURAL_DOCS = [
    (0, "The queries against these tables are slow"),
    (1, "a bus passes the glass houses"),
    (2, "ties and eies and aies and toes and bees and boxes"),
    (3, "cats chase mice across ponds such as this one"),
    (4, "no stopwords here just plain words"),
]


def test_s_stem_harman_rules():
    # rule 1: -ies → -y unless -eies/-aies
    assert s_stem("queries") == "query"
    assert s_stem("ties") == "ty"
    assert s_stem("eies") == "eies"
    assert s_stem("aies") == "aies"
    # rule 2: -es → -e unless -aes/-ees/-oes
    assert s_stem("boxes") == "boxe"
    assert s_stem("passes") == "passe"
    assert s_stem("toes") == "toes"
    assert s_stem("bees") == "bees"
    assert s_stem("aes") == "aes"
    # rule 3: -s → ∅ unless -us/-ss
    assert s_stem("cats") == "cat"
    assert s_stem("bus") == "bus"
    assert s_stem("glass") == "glass"
    # first matching rule only; <3 chars pass through
    assert s_stem("s") == "s"
    assert s_stem("is") == "is"
    assert s_stem("houses") == "house"


def test_analyze_english_drops_stopwords_and_stems():
    assert analyze("The Tables queries a stream", "english") == [
        "table", "query", "stream"
    ]
    # standard leaves everything
    assert analyze("The Tables queries a stream") == [
        "the", "tables", "queries", "a", "stream"
    ]
    with pytest.raises(ValueError, match="unknown analyzer"):
        analyze("x", "porter")


def test_column_chain_matches_python(spark):
    docs = spark.createDataFrame(PLURAL_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: r["toks"]
        for r in with_tokens(docs, analyzer="english").collect()
    }
    for doc_id, text in PLURAL_DOCS:
        assert got[doc_id] == analyze(text, "english"), text


def test_fused_counting_udf_matches_python(spark):
    from collections import Counter

    docs = spark.createDataFrame(PLURAL_DOCS, "doc_id long, text string")
    rows = corpus_base(docs, analyzer="english").collect()
    for r in rows:
        text = dict(PLURAL_DOCS)[r["doc_id"]]
        want = Counter(analyze(text, "english"))
        assert dict(zip(r["terms"], r["tfs"])) == dict(want)
        assert r["dl"] == sum(want.values())


def test_english_index_parity_and_mismatch_guard(spark, tmp_path):
    docs = spark.createDataFrame(PLURAL_DOCS * 8, "doc_id long, text string")
    # widen doc ids so the corpus isn't 5 identical docs
    docs = docs.withColumn(
        "doc_id", F.monotonically_increasing_id() % 40
    ).dropDuplicates(["doc_id"])
    root = str(tmp_path / "eng_idx")
    mf = build_index(spark, docs, root, n_buckets=2, docs_per_shard=16,
                     block_size=8, analyzer="english")
    assert mf.analyzer == "english"
    idx = LoadedIndex(spark, root)
    # query-side analysis comes from the manifest: "tables" matches the
    # stemmed index term "table"
    hits = idx.search("tables queries", k=5, algo="exhaustive").collect()
    assert hits, "stemmed query must match english-stemmed index"
    # stopword-only query → empty, never an error
    assert idx.search("the a with", k=5).collect() == []
    # explicit mismatching analyzer raises loudly
    with pytest.raises(ValueError, match="analyzer"):
        idx.search("tables", k=5, analyzer="standard")
    # matching explicit analyzer is fine
    assert idx.search("tables queries", k=5, analyzer="english").collect()


def test_standard_index_unchanged_by_default(spark, tmp_path):
    docs = spark.createDataFrame(PLURAL_DOCS, "doc_id long, text string")
    root = str(tmp_path / "std_idx")
    mf = build_index(spark, docs, root, n_buckets=2, docs_per_shard=16,
                     block_size=8)
    assert mf.analyzer == "standard"
    idx = LoadedIndex(spark, root)
    # standard analysis: "tables" does NOT match docs containing "queries"
    got = [r["doc_id"] for r in idx.search("queries", k=5).collect()]
    assert got, "literal term still matches under standard"


def test_stopword_set_is_the_lucene_default():
    # 33 words, spot-check membership; tokenize() lowercases first so the
    # set only needs lowercase forms
    assert len(ENGLISH_STOPWORDS) == 33
    for w in ("a", "an", "the", "into", "their", "will", "with", "such"):
        assert w in ENGLISH_STOPWORDS
    assert "about" not in ENGLISH_STOPWORDS
    assert tokenize("The") == ["the"]


def test_batch_and_mlt_follow_manifest_analyzer(spark, tmp_path):
    """search_many and more_like_this must analyze with the manifest's
    config too — an english index queried through the batch path with
    standard-analyzed terms would silently miss (review regression)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "the queries against these tables are slow",
            "tables and queries and windows",
            "plain words here only",
        ] * 4)],
        "doc_id long, text string",
    ).withColumn(
        "doc_id", F.monotonically_increasing_id() % 12
    ).dropDuplicates(["doc_id"])
    root = str(tmp_path / "eng_batch")
    build_index(spark, docs, root, n_buckets=2, docs_per_shard=8,
                block_size=8, analyzer="english")
    idx = LoadedIndex(spark, root)
    got = idx.search_many({"q1": "tables queries"}, k=5).collect()
    assert got, "stemmed batch query must hit the english index"
    assert idx.more_like_this(docs, 0, k=5).collect()


def test_delete_by_query_follows_manifest_analyzer(spark, tmp_path):
    """delete_by_query matches with the manifest's analyzer, exactly like
    search: on an english index "tables" must delete what it finds."""
    from engine import mutate

    docs = spark.createDataFrame(
        [(0, "the tables are slow"), (1, "a table of queries"),
         (2, "plain words here only")],
        "doc_id long, text string",
    )
    root = str(tmp_path / "eng_delete")
    build_index(spark, docs, root, n_buckets=2, docs_per_shard=8,
                block_size=8, analyzer="english")
    idx = LoadedIndex(spark, root)
    assert {r["doc_id"] for r in idx.search("tables", k=10).collect()} == {0, 1}
    assert mutate.delete_by_query(idx, "tables") == 2
    assert idx.search("tables", k=10).collect() == []

"""Physical-plan regression tests: the optimizations the engine relies on at
scale must actually appear in Catalyst's chosen plan (broadcast the small
dimension, push filters into the parquet scan, prune columns) — a plan that
silently degrades to shuffle joins or full scans would still pass value
checks at sf0.01 but collapse at 100 TB."""

from __future__ import annotations

import pytest

import __spark_entry__ as se


@pytest.fixture(scope="module")
def qs():
    return se.queries()


def _plan(spark, qs, name, sf_dir):
    return qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_broadcast(spark, qs, sf_dir):
    """customer/orders dims broadcast — no shuffle join on the small side."""
    p = _plan(spark, qs, "rel_three_way_join", sf_dir)
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_bm25_stats_join_broadcast(spark, qs, sf_dir):
    """exact BM25: per-term stats side must broadcast (score_terms)."""
    p = _plan(spark, qs, "bm25_and", sf_dir)
    assert "BroadcastHashJoin" in p


def test_pricing_summary_pushdown(spark, qs, sf_dir):
    """F2: the shipdate predicate must reach the parquet scan."""
    p = _plan(spark, qs, "rel_pricing_summary", sf_dir)
    assert "LessThanOrEqual(l_shipdate" in p


def test_mktsegment_pushdown(spark, qs, sf_dir):
    p = _plan(spark, qs, "rel_three_way_join", sf_dir)
    assert "EqualTo(c_mktsegment,BUILDING)" in p


def test_column_pruning_token_counts(spark, qs, sf_dir):
    """F1: a 2-column computation must not read the whole documents schema."""
    p = _plan(spark, qs, "text_token_counts", sf_dir)
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas, p
    for s in schemas:
        cols = [c.split(":")[0] for c in s.split(",") if c]
        assert "lang" not in cols and "source" not in cols, cols


def test_postings_fetch_scores_in_scan_stage(spark, sf_dir):
    """D3 (duplicated from test_index at driver level): on the registry's
    index a search pushes the tid set to the parquet scan and scores each
    shard in the scan stage, with no exchange."""
    from engine.registry import _indexed
    from tests.test_index import assert_scan_stage_plan

    assert_scan_stage_plan(_indexed(spark, sf_dir).search("table sort merge", k=10))


def test_exact_bm25_no_doc_stats_join(spark, qs, sf_dir):
    """The exact path carries dl inline in the tf frame (corpus.exploded_tf),
    so score_terms must plan exactly ONE join (the broadcast stats join) —
    the doc_id shuffle join against doc_stats would be a full extra exchange
    per query at scale (VERDICT r01 'What's wrong' #4)."""
    p = _plan(spark, qs, "bm25_hot_term", sf_dir)
    assert p.count("SortMergeJoin") == 0
    assert p.count("ShuffledHashJoin") == 0


def test_adjacency_matrix_single_pass(spark, qs, sf_dir):
    """E13: adjacency_matrix must be ONE aggregate pass over the scan — no
    self-join (the naive formulation joins the event set to itself per filter
    pair, quadratic at scale), and no more than the single final-agg
    exchange."""
    p = _plan(spark, qs, "agg_adjacency_matrix", sf_dir)
    assert "Join" not in p, p
    assert p.count("Exchange") <= 1, p


def test_repetition_no_shuffle(spark, qs, sf_dir):
    """text_repetition is a pure per-row expression (split → transform →
    array_distinct inside codegen): any Exchange would mean the token arrays
    leave the row — a full-corpus shuffle at 100 TB."""
    p = _plan(spark, qs, "text_repetition", sf_dir)
    assert "Exchange" not in p, p


def test_pii_redact_no_shuffle(spark, qs, sf_dir):
    p = _plan(spark, qs, "text_pii_redact", sf_dir)
    assert "Exchange" not in p, p


def test_geo_distance_codegen_no_udf(spark, qs, sf_dir):
    """D23: the haversine predicate must stay JVM-side (no Python eval node)
    so it codegens into the scan stage."""
    p = _plan(spark, qs, "search_geo_distance", sf_dir)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_terms_set_prunes_term_scan(spark, qs, sf_dir):
    """D22: the term-list filter must prune the exploded tf frame before the
    per-doc aggregate (no full-vocabulary aggregation)."""
    p = _plan(spark, qs, "search_terms_set", sf_dir)
    assert "IN (sort,merge,join,hash)" in p, p  # filter precedes the aggs
    assert "BroadcastHashJoin" in p, p  # per-doc threshold side broadcasts


def test_temperature_sample_shuffle_free_filter(spark, qs, sf_dir):
    """The temperature-mix keep predicate is a pure codegen filter over the
    scan: the only aggregate is the |strata|-row rate derivation (done
    driver-side before the plan), so the sampled frame itself must contain
    no Exchange below the final orderBy."""
    from engine.io import read_fixture
    from engine.sample import portable_hash_expr, temperature_sample

    docs = read_fixture(spark, sf_dir, "documents")
    kept, _ = temperature_sample(
        docs, "source", 0.5, 250, hash_expr=portable_hash_expr()
    )
    p = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p


def test_frequent_pairs_vocab_semi_join_broadcasts(spark, qs, sf_dir):
    """E41 Apriori pruning must show up physically: the df-bounded
    vocabulary joins as a BROADCAST left-semi before any pair generation —
    a shuffle semi-join here would mean the full tf frame moves to prune
    a dictionary-sized list."""
    p = _plan(spark, qs, "agg_frequent_pairs", sf_dir)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p


def test_rrf_fuse_inputs_stay_topk(spark, qs, sf_dir):
    """D56: both retriever sides of the RRF fuse must be TakeOrdered
    (bounded top-window lists) — if either side lost its limit the fuse
    would rank the whole corpus through a single-partition window."""
    p = _plan(spark, qs, "search_rrf_hybrid", sf_dir)
    assert p.count("TakeOrderedAndProject") >= 3, p  # 2 retrievers + final


# --- round-4 operator plan shapes ------------------------------------------


def test_geo_polygon_bbox_pushes_to_scan(spark, qs, sf_dir):
    """D68: the polygon's bounding box must reach the parquet scan as range
    predicates — at 100 TB that is what prunes a geo-partitioned table; the
    crossing-number arithmetic runs only on bbox survivors."""
    p = _plan(spark, qs, "search_geo_polygon", sf_dir)
    assert "PushedFilters" in p
    # the bbox derives from event_id/user_id arithmetic, so the scan must
    # push the NOT-NULL guards of both source columns at minimum
    assert "IsNotNull(event_id)" in p and "IsNotNull(user_id)" in p
    assert "BatchEvalPython" not in p  # no row-at-a-time UDF anywhere


def test_eql_sequence4_single_exchange(spark, qs, sf_dir):
    """D63: the k-step register loop must keep ONE key shuffle — all stacked
    windows share the same partitioning/ordering."""
    p = _plan(spark, qs, "eql_sequence4", sf_dir)
    import re

    body = p.split("== Initial Plan ==")[0]  # AQE final plan only
    exchanges = re.findall(r"Exchange (\w+)", body)
    shuffles = [e for e in exchanges if e.startswith("hashpartitioning")]
    assert len(shuffles) <= 2, exchanges  # key shuffle + final sort/collect


def test_english_corpus_single_arrow_pass(spark, qs, sf_dir):
    """B8: the english chain is fused into the SAME Arrow pass as counting —
    every Python stage in the plan is the one fused term_counts UDF (the
    cached corpus frame may print it on two consuming branches); the
    stopword/stem chain must never appear as a second, separate UDF."""
    import re

    p = _plan(spark, qs, "bm25_english", sf_dir)
    udfs = {m.group(1) for m in re.finditer(r"ArrowEvalPython \[(\w+)", p)}
    assert udfs <= {"term_counts"}, udfs
    assert "BatchEvalPython" not in p


def test_eql_sample_is_one_aggregate(spark, qs, sf_dir):
    """D69: unordered correlation = ONE key-grouped hash aggregate (partial
    + final) — no window, no join."""
    p = _plan(spark, qs, "eql_sample", sf_dir)
    assert "Window" not in p
    assert "Join" not in p


def test_funnel_no_expand(spark, sf_dir, qs):
    """E49 round-4 rewrite: the per-key reach bitmap replaced k conditional
    count-distincts — the plan must not Expand the annotated frame."""
    from pyspark.sql import functions as F

    from engine.eql import funnel_conversion
    from engine.io import read_fixture

    ev = read_fixture(spark, sf_dir, "events")
    # funnel_conversion collects internally; reproduce its aggregate plan
    from engine.eql import _sequence_annotated

    ann = _sequence_annotated(
        ev, ["user_id"], "ts",
        [F.col("event_type") == t for t in ("view", "click", "purchase")],
        28800, "event_id",
    )
    per_key = ann.groupBy("user_id").agg(
        F.max(F.col("_is1").cast("int")).alias("r1"),
        F.max(F.col("_done2").isNotNull().cast("int")).alias("r2"),
        F.max(F.col("_done3").isNotNull().cast("int")).alias("r3"),
    )
    agg = per_key.agg(F.sum("r1"), F.sum("r2"), F.sum("r3"))
    p = agg._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in p


def test_change_point_single_scan(spark, qs, sf_dir):
    """E59: the CUSUM estimator must derive everything from ONE events scan
    (one hash agg to the bucket frame, windows on top) — a second scan
    would double the 100-TB read."""
    p = _plan(spark, qs, "agg_change_point", sf_dir)
    assert p.count("Scan parquet") == 1, p


def test_terms_ordered_is_take_ordered(spark, qs, sf_dir):
    """E61: order-by-metric top-k must fuse to TakeOrderedAndProject, never
    a global sort of the bucket frame."""
    p = _plan(spark, qs, "agg_terms_ordered_by_metric", sf_dir)
    assert "TakeOrderedAndProject" in p, p


def test_transform_latest_window_is_keyed(spark, qs, sf_dir):
    """E63: the latest-per-key window must be hash-partitioned by the unique
    key (a global single-partition window would serialize the corpus)."""
    p = _plan(spark, qs, "transform_latest", sf_dir)
    assert "hashpartitioning(user_id" in p, p


def test_ingest_pipeline_enrich_broadcasts(spark, qs, sf_dir):
    """D80: the enrich lookup must broadcast; the documents stream must not
    shuffle for the join."""
    p = _plan(spark, qs, "ingest_pipeline", sf_dir)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p

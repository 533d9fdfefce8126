"""Query path (SURVEY.md §2.D): analysis, boolean semantics, BM25 top-k.

Two scorers, required to agree (property-tested):

* **exact_search** (D8) — pure Spark SQL expressions over
  tf ⋈ doc_stats ⋈ term_stats: whole-stage-codegen'd, DuckDB-oracle-checkable.
  Mirrors ES query-then-fetch with Lucene BM25 [public].
* **index_search** (D3+D7) — tid-pushed scan of the compressed posting
  shards + per-shard block-max WAND top-k in the scan stage's Arrow UDF
  (engine/searcher.py, engine/wand.py), global top-k via
  TakeOrderedAndProject.

Query syntax (ES `bool` parity): whitespace-separated terms; a `-term`
prefix = must_not (D6); mode='and' → bool.must conjunction (D4),
mode='or' → bool.should disjunction (D5). Tie-break score DESC, doc_id ASC
(BASELINE.json:14).
"""

from __future__ import annotations

import math

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bm25 import idf_expr, tf_norm_expr
from .tokenizer import tokenize


@dataclass
class ParsedQuery:
    terms: list[str]      # positive terms (deduped, analysis applied)
    must_not: list[str]   # excluded terms


def parse_query(query: str, analyzer: str = "standard") -> ParsedQuery:
    """D1: analyze the query string with the SAME analyzer as indexing
    (rank-identity requires identical analysis [public: ES match query]).
    analyzer='english' applies the index-side stopword+S-stem chain to the
    query terms too (ES analyzes match queries with the field's analyzer)."""
    from .tokenizer import analyze

    pos_words: list[str] = []
    neg_words: list[str] = []
    for raw in query.split():
        (neg_words if raw.startswith("-") else pos_words).append(raw.lstrip("-"))
    pos: list[str] = []
    neg: list[str] = []
    # the positive words analyze as ONE stream, not word-by-word: identical
    # for every token-local analyzer (standard/english/french/german/
    # synonyms/edge_ngram map or filter each token independently), and
    # REQUIRED for stream-level chains — the shingle analyzer must see
    # adjacent query words to form the same bigram terms the index holds.
    # Negated words are removed before analysis (pinned: a shingle may form
    # across a removed -word; negation of a multi-word unit isn't part of
    # this query syntax).
    for tok in analyze(" ".join(pos_words), analyzer):
        if tok not in pos:
            pos.append(tok)
    for w in neg_words:
        for tok in analyze(w, analyzer):
            if tok not in neg:
                neg.append(tok)
    return ParsedQuery(pos, neg)


def score_terms(
    tf: DataFrame,
    doc_stats: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    terms: list[str],
    df_from_tf: bool = False,
) -> DataFrame:
    """Per-(doc, term) BM25 partial scores for the given terms.

    Plan shape: `term IN (...)` filters push to the tf scan; the per-term
    stats side is tiny → broadcast join. When the tf frame carries `dl`
    inline (engine/corpus.exploded_tf does), the doc-length join is skipped
    entirely — one fewer full shuffle per query; otherwise dl joins as an
    AQE-chosen hash/sort-merge. All arithmetic stays JVM-side (no UDF).

    df_from_tf=True derives each term's document frequency from the tf
    frame itself (count of (term, doc) rows == term_stats.df by
    construction) instead of touching the term_stats frame — which, when
    term_stats is an eagerly cached full-vocabulary aggregate, would
    materialize ALL of it for a handful of query terms. ONLY valid when tf
    is exactly the frame term_stats was computed from (the corpus-builder
    tuples); callers that pass a doc-filtered tf with global stats (e.g.
    per-index search) must keep the default."""
    tf_q = tf.filter(F.col("term").isin(terms))
    if df_from_tf:
        ts_q = tf_q.groupBy("term").agg(F.count("*").alias("df"))
    else:
        ts_q = term_stats.filter(F.col("term").isin(terms))
    joined = tf_q.join(F.broadcast(ts_q.select("term", "df")), "term")
    if "dl" not in tf.columns:
        joined = joined.join(doc_stats, "doc_id")
    return (
        joined
        .select(
            "doc_id",
            "term",
            (
                idf_expr(F.col("df"), F.lit(n_docs))
                * tf_norm_expr(F.col("tf"), F.col("dl"), F.lit(float(avgdl)))
            ).alias("partial"),
        )
    )


def scored_docs(
    tf: DataFrame,
    doc_stats: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    mode: str = "or",
    min_should_match: int = 1,
    analyzer: str = "standard",
    df_from_tf: bool = False,
) -> DataFrame:
    """Full BM25-scored match set → DataFrame(doc_id, score double,
    n_matched) with boolean semantics applied but NO ordering/limit — the
    shared core of exact_search and of features that re-rank before the
    top-k cut (function_score boosts, field collapse, sort-by-field)."""
    q = parse_query(query, analyzer)
    if not q.terms:
        return tf.sparkSession.createDataFrame(
            [], "doc_id long, score double, n_matched long"
        )
    scored = (
        score_terms(
            tf, doc_stats, term_stats, n_docs, avgdl, q.terms,
            df_from_tf=df_from_tf,
        )
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("score"), F.count("*").alias("n_matched"))
    )
    if mode == "and":
        scored = scored.filter(F.col("n_matched") == len(q.terms))
    elif min_should_match > 1:
        scored = scored.filter(F.col("n_matched") >= min_should_match)
    if q.must_not:
        excl = tf.filter(F.col("term").isin(q.must_not)).select("doc_id").distinct()
        scored = scored.join(excl, "doc_id", "left_anti")  # D6 bool.must_not
    return scored


def exact_search(
    tf: DataFrame,
    doc_stats: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    k: int = 10,
    mode: str = "or",
    round_to: int | None = 4,
    min_should_match: int = 1,
    analyzer: str = "standard",
    df_from_tf: bool = False,
) -> DataFrame:
    """D8 exact BM25 top-k → DataFrame(doc_id, score), deterministic order.

    round_to: decimal rounding applied to the final score so the driver's
    order-insensitive value-hash is robust to last-ulp float differences
    between engines (Spark vs DuckDB oracle); None = raw double.
    min_should_match: ES minimum_should_match — require ≥ m distinct query
    terms per doc (mode='and' is the m = len(terms) special case)."""
    scored = scored_docs(
        tf, doc_stats, term_stats, n_docs, avgdl, query,
        mode=mode, min_should_match=min_should_match, analyzer=analyzer,
        df_from_tf=df_from_tf,
    )
    score_col = F.round(F.col("score"), round_to) if round_to is not None else F.col("score")
    return (
        scored.select("doc_id", score_col.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def fetch(topk: DataFrame, docs: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """D11 fetch phase: join top-k back to stored fields — broadcast the
    k-row side (ES query-then-fetch [public])."""
    right = docs if cols is None else docs.select("doc_id", *cols)
    return F.broadcast(topk).join(right, "doc_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )


def phrase_filter(
    tf_with_pos: DataFrame, terms: list[str], slop: int = 0
) -> DataFrame:
    """D9 phrase match: docs where the terms appear in order, each gap
    between consecutive terms ≤ 1 + slop positions (slop=0 → strict
    adjacency, the ES match_phrase default).

    Pure SQL-expression check over the C2 position lists: a running set of
    reachable match-end positions is narrowed term by term —
    ends₀ = pos(t0); endsᵢ = {q ∈ pos(tᵢ) | ∃e ∈ endsᵢ₋₁: 1 ≤ q−e ≤ 1+slop}.
    Arrays are per-doc position lists, bounded by dl, so the lambda work is
    O(dl²) worst-case per doc and embarrassingly parallel. slop>0 is the
    ordered per-gap simplification of Lucene's sloppy-phrase edit-distance
    semantics, documented as such [public: ES match_phrase slop]."""
    if not terms:
        raise ValueError("empty phrase")
    gap = 1 + slop
    base = (
        tf_with_pos.filter(F.col("term") == terms[0])
        .select("doc_id", F.col("positions").alias("ends"))
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = (
            tf_with_pos.filter(F.col("term") == t)
            .select("doc_id", F.col("positions").alias(f"np{i}"))
        )
        base = base.join(nxt, "doc_id")
        base = base.withColumn(
            "ends",
            F.filter(
                F.col(f"np{i}"),
                lambda q: F.exists(
                    F.col("ends"),
                    lambda e: (q - e >= 1) & (q - e <= F.lit(gap)),
                ),
            ),
        ).drop(f"np{i}")
    return base.filter(F.size("ends") > 0).select("doc_id")


def expand_synonyms(query: str, synonyms: dict[str, list[str]]) -> str:
    """Query-time synonym expansion (ES synonym_graph token filter at search
    analysis, simplification: the group scores as a bool.should disjunction
    rather than blended-statistics SynonymQuery; documented divergence).
    must_not tokens (`-term`) are never expanded."""
    out: list[str] = []
    for raw in query.split():
        if raw.startswith("-"):
            out.append(raw)
            continue
        out.append(raw)
        for syn in synonyms.get(raw, []):
            if syn not in out:
                out.append(syn)
    return " ".join(out)


def collapse_topk(
    scored: DataFrame, docs: DataFrame, field: str, k: int, round_to: int = 4
) -> DataFrame:
    """ES field collapsing [public: `collapse` on search]: one best hit per
    distinct value of `field`, then the global top-k of those group champions.

    Plan shape: the champion-per-group is a hash AGGREGATION (max of a
    (score, −doc_id) struct), not a window — partial aggregation combines
    map-side, so the shuffle carries ≤ one row per (partition, group) instead
    of every scored hit, which is the difference at web scale where a hot
    query matches millions of docs across thousands of collapse groups.
    Tie-break inside a group: score DESC, doc_id ASC (−doc_id in the struct
    max). Output: (field, doc_id, score), global order score DESC, doc_id ASC."""
    joined = scored.join(docs.select("doc_id", field), "doc_id").select(
        field,
        F.struct(
            F.round(F.col("score"), round_to).alias("score"),
            (-F.col("doc_id")).alias("neg_id"),
        ).alias("cand"),
    )
    best = joined.groupBy(field).agg(F.max("cand").alias("best"))
    return (
        best.select(
            field,
            (-F.col("best.neg_id")).alias("doc_id"),
            F.col("best.score").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def range_filter(docs: DataFrame, col: str, lo, hi) -> DataFrame:
    """D10: `range` query parity — pushdown-friendly BETWEEN."""
    return docs.filter(F.col(col).between(lo, hi))


def multiterm_and_docids(tf: DataFrame, terms: list[str]) -> DataFrame:
    """D4 SQL-checkable variant of conjunction: doc_ids containing ALL terms
    (semi-join / group-count form; the WAND path is the scored variant)."""
    return (
        tf.filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.count_distinct("term").alias("nt"))
        .filter(F.col("nt") == len(terms))
        .select("doc_id")
    )


def span_first_filter(tf_with_pos: DataFrame, term: str, end: int) -> DataFrame:
    """ES/Lucene `span_first` [public: ES span_first query docs]: match docs
    where `term` occurs with span end position ≤ `end`, i.e. some 0-based
    token position < end. Pure expression over the C2 per-doc position list
    (no shuffle: the position array rides the tf row); returns the earliest
    qualifying position for scoring/explain parity."""
    hits = tf_with_pos.filter(F.col("term") == term).select(
        "doc_id",
        F.array_min(F.filter(F.col("positions"), lambda p: p < F.lit(end))).alias(
            "first_pos"
        ),
    )
    return hits.filter(F.col("first_pos").isNotNull())


def terms_set_filter(
    tf: DataFrame,
    terms: list[str],
    docs_required: DataFrame,
    required_col: str = "required_matches",
) -> DataFrame:
    """ES `terms_set` [public: ES terms_set query docs]: match docs containing
    at least `required_matches` of the given terms, where the threshold is a
    PER-DOCUMENT field (ES's minimum_should_match_field). One tf scan filtered
    to the term list (pushed to the posting scan on the indexed path), a
    per-doc count, then a broadcast-joined threshold compare — no per-row
    Python, no full-corpus pass beyond the pruned term rows."""
    matched = (
        tf.filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_matched"))
    )
    return (
        matched.join(docs_required.select("doc_id", required_col), "doc_id")
        .filter(F.col("n_matched") >= F.col(required_col))
        .select("doc_id", "n_matched", F.col(required_col).cast("bigint").alias("required"))
    )


def explain_score(
    tf: DataFrame,
    doc_stats: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    mode: str = "and",
) -> DataFrame:
    """ES `_explain` API [public: ES explain docs]: the per-term score
    breakdown (tf, dl, df, idf, tf_norm, partial) for the TOP hit of the
    query — how Lucene justifies a BM25 score. The top-1 doc_id side is a
    1-row broadcast; the breakdown reuses the same pruned tf scan and
    broadcast stats join as score_terms, so explain costs one extra
    broadcast over the normal query plan."""
    q = parse_query(query)
    top1 = exact_search(tf, doc_stats, term_stats, n_docs, avgdl, query, k=1, mode=mode).select(
        "doc_id"
    )
    tf_q = tf.filter(F.col("term").isin(q.terms)).join(F.broadcast(top1), "doc_id")
    joined = tf_q.join(
        F.broadcast(term_stats.filter(F.col("term").isin(q.terms)).select("term", "df")), "term"
    )
    if "dl" not in tf.columns:
        joined = joined.join(doc_stats, "doc_id")
    idf = idf_expr(F.col("df"), F.lit(n_docs))
    tfn = tf_norm_expr(F.col("tf"), F.col("dl"), F.lit(float(avgdl)))
    return joined.select(
        "doc_id",
        "term",
        F.col("tf").cast("bigint").alias("term_freq"),
        F.col("dl").cast("bigint").alias("doc_len"),
        F.col("df").cast("bigint").alias("doc_freq"),
        F.round(idf, 4).alias("idf"),
        F.round(tfn, 4).alias("tf_norm"),
        F.round(idf * tfn, 4).alias("partial"),
    )


def span_near_filter(
    tf_with_pos: DataFrame,
    term_a: str,
    term_b: str,
    slop: int,
    in_order: bool = False,
) -> DataFrame:
    """ES/Lucene `span_near` (two-clause form) [public: ES span_near query
    docs]: match docs where the two terms occur within `slop` intervening
    positions; in_order=True additionally requires term_a before term_b.
    Like phrase_filter, the check is a pure array expression over the C2
    per-doc position lists — the position arrays ride the tf rows, so the
    only join is doc_id-equi between two term-pruned tf slices (both sides
    filter-pushed to the scan). Returns (doc_id, min_gap) where min_gap is
    the smallest qualifying gap, for explain parity."""
    a = tf_with_pos.filter(F.col("term") == term_a).select(
        "doc_id", F.col("positions").alias("pa")
    )
    b = tf_with_pos.filter(F.col("term") == term_b).select(
        "doc_id", F.col("positions").alias("pb")
    )
    if in_order:
        gap = lambda p, q: q - p - 1          # noqa: E731  a strictly before b
        ok = lambda g: (g >= 0) & (g <= F.lit(slop))  # noqa: E731
    else:
        gap = lambda p, q: F.abs(q - p) - 1   # noqa: E731
        ok = lambda g: g <= F.lit(slop)       # noqa: E731  (p != q always: same
        # token position can't hold two distinct terms)
    pairs = a.join(b, "doc_id").select(
        "doc_id",
        F.array_min(
            F.flatten(
                F.transform(
                    F.col("pa"),
                    lambda p: F.filter(
                        F.transform(F.col("pb"), lambda q: gap(p, q)), ok
                    ),
                )
            )
        ).alias("min_gap"),
    )
    return pairs.filter(F.col("min_gap").isNotNull())


def match_phrase_prefix_filter(
    tf_with_pos: DataFrame, first_term: str, prefix: str
) -> DataFrame:
    """ES `match_phrase_prefix` (two-position form) [public: ES
    match_phrase_prefix docs]: docs where `first_term` is immediately
    followed by ANY vocabulary term starting with `prefix` — the phrase
    whose last position is a prefix multi-term expansion. The expansion is
    expressed as a LIKE filter on the tf scan (no dictionary collect); the
    expanded positions are unioned per doc (flatten over the grouped
    position lists) before the same adjacency array-expression
    phrase_filter uses."""
    a = tf_with_pos.filter(F.col("term") == first_term).select(
        "doc_id", F.col("positions").alias("pa")
    )
    b = (
        tf_with_pos.filter(F.col("term").startswith(prefix))
        .groupBy("doc_id")
        .agg(F.flatten(F.collect_list("positions")).alias("pb"))
    )
    return (
        a.join(b, "doc_id")
        .filter(
            F.exists(
                F.col("pa"),
                lambda p: F.exists(F.col("pb"), lambda q: q - p == 1),
            )
        )
        .select("doc_id")
    )


def distance_feature_rescore(
    scored: DataFrame,
    docs: DataFrame,
    field: str,
    origin: float,
    pivot: float,
    boost: float,
    k: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """ES `distance_feature` query in a bool.should [public: ES
    distance_feature docs]: final score = relevance + boost * pivot /
    (pivot + |field - origin|) — closer to the origin scores higher, with
    the ES-pinned saturation shape. The numeric field joins in from the
    doc table (broadcast the tiny scored side is wrong at web scale — the
    match set can be huge — so this is a plain equi-join Catalyst/AQE picks
    the strategy for); arithmetic is pure codegen."""
    dist = F.abs(F.col(field) - F.lit(float(origin)))
    feat = F.lit(float(boost)) * F.lit(float(pivot)) / (F.lit(float(pivot)) + dist)
    return (
        scored.join(docs.select("doc_id", field), "doc_id")
        .select(
            "doc_id",
            F.round(F.col("score") + feat, round_to).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def script_score_rescore(
    scored: DataFrame,
    docs: DataFrame,
    fields: list[str],
    script: "F.Column",
    k: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """ES `script_score` query [public: ES script_score docs]: replace the
    relevance score with an arbitrary expression over `_score` and doc
    fields. The "script" is a Spark Column expression — compiled into
    whole-stage codegen instead of interpreted per hit as ES Painless is;
    same join shape rationale as distance_feature_rescore."""
    return (
        scored.join(docs.select("doc_id", *fields), "doc_id")
        .select("doc_id", F.round(script, round_to).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def pinned_topk(
    scored: DataFrame,
    pinned_ids: list[int],
    k: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """ES `pinned` query [public: ES pinned query docs]: the given ids rank
    first IN THE ORDER GIVEN, then organic hits (pinned ids removed from
    the organic tail) by relevance. ES implements this with descending
    huge sentinel scores; same here — pinned doc i gets 1e9 - i, which
    keeps the output a plain (doc_id, score) frame, totally ordered. The
    pinned side is a literal-list lookup (tiny, broadcast by construction);
    the organic side is the normal scored frame minus an isin filter."""
    spark = scored.sparkSession
    pinned = spark.createDataFrame(
        [(int(d), float(1e9 - i)) for i, d in enumerate(pinned_ids)],
        "doc_id long, score double",
    )
    organic = scored.filter(~F.col("doc_id").isin([int(d) for d in pinned_ids]))
    organic = organic.select(
        "doc_id", F.round(F.col("score"), round_to).alias("score")
    )
    return (
        pinned.unionByName(organic)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def _min_gaps_sweep_udf(ordered: bool):
    """Vectorized k-way minimal-window sweep over one row's k position
    lists (array<array<int>> column) → min_gaps (window width − k), NULL if
    no valid window. Unordered: the "smallest range covering one element
    from each of k sorted lists" heap/two-pointer sweep [public: classic
    k-way merge algorithm]; ordered: greedy successor chaining per start
    position, optimal because each next term takes its smallest position
    strictly after the previous one."""
    import bisect

    import pandas as pd
    from pyspark.sql import types as T

    def one_unordered(lists) -> int | None:
        events = sorted(
            (int(p), li) for li, ps in enumerate(lists) for p in ps
        )
        k = len(lists)
        need = {li: 0 for li in range(k)}
        covered, lo, best = 0, 0, None
        for hi in range(len(events)):
            li = events[hi][1]
            if need[li] == 0:
                covered += 1
            need[li] += 1
            while covered == k:
                width = events[hi][0] - events[lo][0] + 1
                gaps = width - k
                if best is None or gaps < best:
                    best = gaps
                lo_li = events[lo][1]
                need[lo_li] -= 1
                if need[lo_li] == 0:
                    covered -= 1
                lo += 1
        return best

    def one_ordered(lists) -> int | None:
        k = len(lists)
        best = None
        for p in lists[0]:
            cur = int(p)
            ok = True
            for li in range(1, k):
                ps = lists[li]
                idx = bisect.bisect_right(ps, cur)
                if idx == len(ps):
                    ok = False
                    break
                cur = int(ps[idx])
            if ok:
                gaps = cur - int(p) + 1 - k
                if best is None or gaps < best:
                    best = gaps
        return best

    one = one_ordered if ordered else one_unordered

    @F.pandas_udf(T.LongType())
    def sweep(plists):
        # unannotated signature on purpose: pandas is factory-local, so
        # string hints would not resolve at decoration time
        return pd.Series(
            [one([list(ps) for ps in row]) for row in plists],
            dtype="object",
        )

    return sweep


def intervals_query(
    tf_with_pos: DataFrame,
    sources,
    max_gaps: int = 0,
    ordered: bool = False,
) -> DataFrame:
    """ES/Lucene `intervals` query [public: ES intervals query docs; Lucene
    intervals]: `all_of` over 2-3 sources, where each source is a term or a
    one-level `any_of` combination — sources: list of str |
    ("any_of", [terms...]) (VERDICT r03 #4). Docs match when some minimal
    window holds one interval from EVERY source with at most `max_gaps`
    non-matching positions inside it (window width − k); `ordered`
    additionally requires the source intervals in list order. Any k ≥ 2:
    k ≤ 3 runs as pure nested array transforms, larger k switches to the
    k-way merged-list minimal-window sweep UDF (_min_gaps_sweep_udf) —
    same join shape, per-row bounded work either way.

    With term leaves every interval is a single position and distinct terms
    never share a position (one token per position), so an `any_of` source
    is exactly the sorted UNION of its member terms' position lists and the
    all_of combination stays the nested position-array transform — pure
    per-row expressions over the C2 position lists. The only exchanges are
    the doc_id-equi joins of k term-pruned tf slices (filters pushed to the
    scan) plus one tiny per-doc merge agg for each any_of source; combo
    work is O(dl^k) for k <= 3 and O(dl*k*log dl) on the sweep path, on
    arrays that never leave the row. Returns (doc_id, min_gaps).
    """
    k = len(sources)
    if k < 2:
        raise ValueError(f"intervals_query needs >= 2 sources, got {k}")
    leaves: list[str] = []
    frames: list[DataFrame] = []
    for i, srcspec in enumerate(sources):
        if isinstance(srcspec, str):
            leaves.append(srcspec)
            frames.append(
                tf_with_pos.filter(F.col("term") == srcspec).select(
                    "doc_id", F.col("positions").alias(f"_p{i}")
                )
            )
        else:
            op, terms = srcspec
            if op != "any_of" or not terms:
                raise ValueError(
                    f"source must be a term or ('any_of', [terms]): {srcspec!r}"
                )
            leaves.extend(terms)
            frames.append(
                tf_with_pos.filter(F.col("term").isin(list(terms)))
                .groupBy("doc_id")
                .agg(
                    F.sort_array(F.flatten(F.collect_list("positions")))
                    .alias(f"_p{i}")
                )
            )
    if len(set(leaves)) != len(leaves):
        # a repeated leaf would pair a position with itself (gap −1) and
        # match docs with a single occurrence; the Lucene semantics need a
        # same-term multi-occurrence matcher this row-expression form
        # doesn't implement — refuse rather than silently mis-match
        raise ValueError(f"intervals leaf terms must be distinct: {leaves}")
    j: DataFrame | None = None
    for s in frames:
        j = s if j is None else j.join(s, "doc_id")
    if k > 3:
        # arbitrary k: the classic k-way merged-list minimal-window sweep —
        # per-row bounded work (position lists are dl-bounded) inside one
        # Arrow-vectorized UDF; the k<=3 forms below stay pure expressions
        mg = _min_gaps_sweep_udf(ordered)(
            F.array(*[F.col(f"_p{i}") for i in range(k)])
        )
        return (
            j.select("doc_id", mg.alias("min_gaps"))
            .filter(
                F.col("min_gaps").isNotNull()
                & (F.col("min_gaps") <= max_gaps)
            )
        )
    if k == 2:
        if ordered:
            gap = lambda a, b: F.when(a < b, b - a - 1)  # noqa: E731
        else:
            gap = lambda a, b: F.abs(b - a) - 1  # noqa: E731
        combos = F.flatten(
            F.transform(
                F.col("_p0"),
                lambda a: F.transform(F.col("_p1"), lambda b: gap(a, b)),
            )
        )
    else:
        if ordered:
            gap3 = lambda a, b, c: F.when((a < b) & (b < c), c - a - 2)  # noqa: E731
        else:
            gap3 = (  # noqa: E731
                lambda a, b, c: F.greatest(a, b, c) - F.least(a, b, c) - 2
            )
        combos = F.flatten(
            F.flatten(
                F.transform(
                    F.col("_p0"),
                    lambda a: F.transform(
                        F.col("_p1"),
                        lambda b: F.transform(
                            F.col("_p2"), lambda c: gap3(a, b, c)
                        ),
                    ),
                )
            )
        )
    min_gaps = F.array_min(F.filter(combos, lambda g: g.isNotNull()))
    return (
        j.select("doc_id", min_gaps.cast("long").alias("min_gaps"))
        .filter(F.col("min_gaps").isNotNull() & (F.col("min_gaps") <= max_gaps))
    )


def intervals_all_of(
    tf_with_pos: DataFrame,
    terms: list[str],
    max_gaps: int = 0,
    ordered: bool = False,
) -> DataFrame:
    """`all_of` over plain term sources (the round-3 surface, kept for its
    call sites) — delegates to intervals_query. Subsumes span_near (k=2)
    and generalizes phrase (ordered, max_gaps=0)."""
    return intervals_query(tf_with_pos, list(terms), max_gaps, ordered)


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    rank_constant: int = 60,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """ES reciprocal-rank-fusion retriever [public: ES `rrf` retriever docs;
    Cormack & Clarke SIGIR'09]: fuse N retrievers' rankings into one list by
    rrf_score(d) = Σ_r 1/(rank_constant + rank_r(d)) over the retrievers
    whose top-window list contains d, then take the global top-k.

    Scale shape mirrors ES exactly: each input DataFrame is a retriever's
    already-computed top-window list (TakeOrdered — bounded at
    rank_window_size rows, distributed upstream), so the fuse itself is
    coordinator-sized work: the per-retriever row_number windows and the
    final union+groupBy run over ≤ Σ window_r rows regardless of corpus
    size. Ranks are taken over (score desc, id asc) — callers must pass
    rounded scores (exact_search/brute_force_topk round to 4) so rank order
    is engine-stable. Returns (id_col, rrf_score)."""
    from pyspark.sql import Window

    fused: DataFrame | None = None
    for r in rankings:
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        contrib = r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(rank_constant) + F.row_number().over(w)))
            .alias("_c"),
        )
        fused = contrib if fused is None else fused.unionByName(contrib)
    assert fused is not None, "rrf_fuse needs at least one ranking"
    return (
        fused.groupBy(id_col)
        .agg(F.round(F.sum("_c"), 4).alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def linear_fuse(
    rankings: list[DataFrame],
    weights: list[float],
    k: int = 10,
    id_col: str = "doc_id",
    score_col: str = "score",
    normalizer: str = "minmax",
) -> DataFrame:
    """ES `linear` hybrid retriever [public: ES linear retriever docs]
    (VERDICT r04 #9): fuse N retrievers' top-window lists by a weighted sum
    of per-retriever normalized scores — linear(d) = Σ_r w_r · norm_r(d),
    docs absent from a retriever's window contributing 0 for it.

    normalizer='minmax': (s − min)/(max − min) over that retriever's OWN
    top window; a single-distinct-score window normalizes to 1.0 (every doc
    is at the max — pinned convention, replayed identically by the SQL
    twin). 'none' passes raw scores through.

    Same scale shape as rrf_fuse: inputs are already-bounded top-window
    lists, so the min/max windows and the union+groupBy are
    coordinator-sized regardless of corpus size. Returns
    (id_col, linear_score)."""
    from pyspark.sql import Window

    if len(rankings) != len(weights):
        raise ValueError("one weight per ranking")
    if normalizer not in ("minmax", "none"):
        raise ValueError(f"unknown normalizer {normalizer!r}")
    fused: DataFrame | None = None
    for r, wgt in zip(rankings, weights):
        s = F.col(score_col)
        if normalizer == "minmax":
            w = Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            mn, mx = F.min(s).over(w), F.max(s).over(w)
            s = F.when(mx == mn, F.lit(1.0)).otherwise((s - mn) / (mx - mn))
        contrib = r.select(F.col(id_col), (F.lit(float(wgt)) * s).alias("_c"))
        fused = contrib if fused is None else fused.unionByName(contrib)
    assert fused is not None, "linear_fuse needs at least one ranking"
    return (
        fused.groupBy(id_col)
        .agg(F.round(F.sum("_c"), 4).alias("linear_score"))
        .orderBy(F.col("linear_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def span_not_filter(
    tf_with_pos: DataFrame,
    include_term: str,
    exclude_term: str,
    pre: int = 0,
    post: int = 0,
) -> DataFrame:
    """ES/Lucene `span_not` [public: ES span_not query docs]: match docs
    where `include_term` has at least one occurrence with NO `exclude_term`
    occurrence in the window [pos-pre, pos+post]. Same shape as span_near:
    the check is a pure array expression over the C2 position lists, the
    only exchange is a doc_id-equi LEFT join of two term-pruned tf slices
    (a doc with zero exclude occurrences keeps every include position).
    Returns (doc_id, n_spans) — the count of surviving occurrences."""
    inc = tf_with_pos.filter(F.col("term") == include_term).select(
        "doc_id", F.col("positions").alias("pi")
    )
    exc = tf_with_pos.filter(F.col("term") == exclude_term).select(
        "doc_id", F.col("positions").alias("pe")
    )
    j = inc.join(exc, "doc_id", "left")
    surviving = F.filter(
        F.col("pi"),
        lambda p: ~F.exists(
            F.coalesce(F.col("pe"), F.array()),
            lambda e: (e >= p - pre) & (e <= p + post),
        ),
    )
    return (
        j.select("doc_id", F.size(surviving).cast("long").alias("n_spans"))
        .filter(F.col("n_spans") > 0)
    )


def span_near_multi(
    tf_with_pos: DataFrame,
    terms: list[str],
    slop: int = 0,
    in_order: bool = False,
) -> DataFrame:
    """ES/Lucene `span_near` with ANY number of clauses [public: ES
    span_near query docs] — lifts the round-3 2-clause bound (VERDICT r03
    coverage D38). span_near(clauses, slop) is exactly intervals all_of
    with max_gaps=slop (Lucene implements intervals on top of spans), so
    this delegates: k <= 3 stays pure array expressions, larger k uses the
    merged-list sweep. Returns (doc_id, min_gaps <= slop)."""
    return intervals_query(
        tf_with_pos, list(terms), max_gaps=slop, ordered=in_order
    )


def span_or_filter(tf_with_pos: DataFrame, terms: list[str]) -> DataFrame:
    """ES/Lucene `span_or` [public: ES span_or query docs]: the union of the
    clause spans — docs where ANY clause term occurs. With term clauses the
    union is just the merged per-doc position multiset: one term-pruned scan
    (`term IN (...)` pushed down), one per-doc hash agg, no join. Returns
    (doc_id, n_spans total occurrences, first_pos earliest span start)."""
    if not terms:
        raise ValueError("span_or needs at least one clause")
    return (
        tf_with_pos.filter(F.col("term").isin(list(terms)))
        .groupBy("doc_id")
        .agg(
            F.sum(F.size("positions")).cast("long").alias("n_spans"),
            F.min(F.array_min("positions")).cast("long").alias("first_pos"),
        )
    )


def _pair_spans(slop: int, in_order: bool):
    """Big-span builder shared by span_containing/span_within: all (a, b)
    position pairs forming a valid span_near window — struct(s, e) array,
    nulls (invalid pairs) filtered out. Pure array expression."""

    def build(pa, pb):
        def pair(a, b):
            width_ok = (
                ((b - a - 1) <= slop) & (a < b)
                if in_order
                else (F.abs(b - a) - 1 <= slop) & (a != b)
            )
            return F.when(
                width_ok,
                F.struct(
                    F.least(a, b).alias("s"), F.greatest(a, b).alias("e")
                ),
            )

        combos = F.flatten(
            F.transform(pa, lambda a: F.transform(pb, lambda b: pair(a, b)))
        )
        return F.filter(combos, lambda x: x.isNotNull())

    return build


def _span_big_little(
    tf_with_pos: DataFrame,
    big: tuple[str, str, int],
    little_term: str,
    in_order: bool,
) -> DataFrame:
    """Shared frame for span_containing/span_within: per-doc `_spans`
    (valid big span_near(a, b, slop) windows) and `_pl` (little positions).
    Three term-pruned tf slices equi-joined on doc_id — the same exchange
    shape as span_near/span_not; all span arithmetic rides the row."""
    term_a, term_b, slop = big
    if len({term_a, term_b, little_term}) != 3:
        raise ValueError(
            f"span clauses must use distinct terms: {big} / {little_term}"
        )
    pa = tf_with_pos.filter(F.col("term") == term_a).select(
        "doc_id", F.col("positions").alias("_pa")
    )
    pb = tf_with_pos.filter(F.col("term") == term_b).select(
        "doc_id", F.col("positions").alias("_pb")
    )
    pl = tf_with_pos.filter(F.col("term") == little_term).select(
        "doc_id", F.col("positions").alias("_pl")
    )
    j = pa.join(pb, "doc_id").join(pl, "doc_id")
    spans = _pair_spans(slop, in_order)(F.col("_pa"), F.col("_pb"))
    return j.withColumn("_spans", spans)


def span_containing_filter(
    tf_with_pos: DataFrame,
    big: tuple[str, str, int],
    little_term: str,
    in_order: bool = False,
) -> DataFrame:
    """ES/Lucene `span_containing` [public: ES span_containing query docs]:
    spans of `big` (a span_near(a, b, slop) pair) that CONTAIN at least one
    occurrence of `little_term`. Returns (doc_id, n_spans = count of
    containing big spans)."""
    ann = _span_big_little(tf_with_pos, big, little_term, in_order)
    n = F.size(
        F.filter(
            F.col("_spans"),
            lambda sp: F.exists(
                F.col("_pl"),
                lambda p: (p >= sp.getField("s")) & (p <= sp.getField("e")),
            ),
        )
    )
    return (
        ann.select("doc_id", n.cast("long").alias("n_spans"))
        .filter(F.col("n_spans") > 0)
    )


def span_within_filter(
    tf_with_pos: DataFrame,
    little_term: str,
    big: tuple[str, str, int],
    in_order: bool = False,
) -> DataFrame:
    """ES/Lucene `span_within` [public: ES span_within query docs]: the
    mirror of span_containing — occurrences of `little_term` that fall
    INSIDE some `big` span_near(a, b, slop) window. Returns (doc_id,
    n_spans = count of enclosed little occurrences)."""
    ann = _span_big_little(tf_with_pos, big, little_term, in_order)
    n = F.size(
        F.filter(
            F.col("_pl"),
            lambda p: F.exists(
                F.col("_spans"),
                lambda sp: (p >= sp.getField("s")) & (p <= sp.getField("e")),
            ),
        )
    )
    return (
        ann.select("doc_id", n.cast("long").alias("n_spans"))
        .filter(F.col("n_spans") > 0)
    )


def sparse_vector_topk(
    tf: DataFrame,
    query_weights: dict[str, float],
    k: int = 10,
) -> DataFrame:
    """ES `sparse_vector` / `text_expansion` query [public: ES sparse_vector
    query docs — ELSER-style learned-sparse retrieval]: the query is a
    term→weight map, the document side holds per-term weights, score =
    Σ_t q_w(t) · d_w(t). Here the stored document weight is the raw term
    frequency (the honest no-model stand-in; a learned expansion swaps the
    weight column, not the plan). Plan shape identical to the BM25 exact
    path: the query's term list prunes the tf scan (`term IN (...)`
    pushdown), weights ride in via a broadcast k_terms-row map, one
    map-side-combining hash agg per doc, TakeOrdered for top-k."""
    terms = sorted(query_weights)
    w = F.create_map(
        *[F.lit(x) for t in terms for x in (t, float(query_weights[t]))]
    )
    return (
        tf.filter(F.col("term").isin(terms))
        .select("doc_id", (w[F.col("term")] * F.col("tf")).alias("_c"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("_c"), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def rerank_cosine(
    tf: DataFrame,
    doc_stats: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    first_k: int = 50,
    k: int = 10,
) -> DataFrame:
    """Two-stage retriever [public: ES retriever tree — text_similarity
    reranker over a standard retriever]: stage 1 retrieves the BM25 top
    `first_k` candidates; stage 2 re-scores ONLY those candidates with a
    similarity model and returns the reranked top `k`. ES calls an inference
    endpoint for stage 2; no model exists in this sandbox, so the pinned
    stand-in is the classic lexical VSM cosine (raw-tf vectors, query tf=1):

        cos(q, d) = sum_{t in q} tf_td / (sqrt(|q|) * sqrt(sum_t tf_td^2))

    deterministic and SQL-replayable, while the retriever SHAPE (bounded
    candidate set, second-stage scorer, rerank-then-cut) is the real ES one.

    Scale shape: stage 2 touches only first_k rows' postings — the candidate
    doc_id set broadcasts into a semi-join on the tf frame, so the rerank
    costs one bounded scan regardless of corpus size; the doc-norm aggregate
    runs over those ≤first_k docs only. Output: (doc_id, first_score,
    score), ordered by the rerank score."""
    q = parse_query(query)
    stage1 = exact_search(
        tf, doc_stats, term_stats, n_docs, avgdl, query, k=first_k, mode="or"
    ).select("doc_id", F.col("score").alias("first_score"))
    cand_tf = tf.join(F.broadcast(stage1.select("doc_id")), "doc_id")
    norms = cand_tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("dnorm")
    )
    dots = (
        cand_tf.filter(F.col("term").isin(q.terms))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("dot"))
    )
    qnorm = math.sqrt(len(q.terms))
    return (
        stage1
        .join(F.broadcast(norms), "doc_id")
        .join(F.broadcast(dots), "doc_id", "left")
        .select(
            "doc_id",
            "first_score",
            F.round(
                F.coalesce(F.col("dot"), F.lit(0.0))
                / (F.col("dnorm") * F.lit(qnorm)),
                4,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )

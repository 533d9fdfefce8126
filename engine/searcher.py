"""Index-backed query execution (SURVEY.md §3.2 lifecycle).

Mirrors the ES query-then-fetch search lifecycle [public]:
  analyze query (same analyzer as indexing)
   → term-dict seek on the driver, no Spark job: one filtered pyarrow read
     of term_dict (term, df) that skips row groups by their footer min/max
     term; each found term's tid is computed from it (index.tid_of), not
     stored
   → posting scan with one SQL-text `tid IN (...)` predicate pushed to the
     Parquet reader
   → per-shard block-max WAND top-k in the scan stage: postings are
     document-partitioned, one single-row-group file per shard
     (engine/io.py), so every shard's rows sit in one scan task and a
     `mapInPandas` scores them there, with the shard's live docs read by
     the task itself — no exchange
   → coordinating merge: global TakeOrderedAndProject(k, score DESC, doc ASC)

`search`, `search_tree` and `search_many` run this lifecycle through ONE
executor: every query is a `_Spec`, a single query is a batch of one, and
`LoadedIndex._execute` answers a whole batch with one posting scan and one
per-shard Arrow pass (`LoadedIndex._shard_frame`, which
engine.mutate.match_doc_ids shares). Only the coordinating merge differs per
entry point: a global top-k for `search`/`search_tree` (one Spark job), a
per-qid window for `search_many`.

idf uses GLOBAL corpus stats from the manifest/term_dict (like ES
dfs_query_then_fetch — pinned so scores are shard-count-invariant).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import bm25
from .codec import decode_postings
from .index import TOMBSTONE_SCHEMA, IndexManifest, read_index_table, tid_of
from .io import check_shard_layout
from .search import ParsedQuery, parse_query
from .wand import TermCursor, exhaustive_topk, intersect_topk, wand_topk, wand_tree_topk

# StructTypes, not DDL strings: a DDL string is parsed in the JVM on every call
TOPK_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("score", T.DoubleType())]
)
BATCH_TOPK_SCHEMA = T.StructType([T.StructField("qid", T.StringType()), *TOPK_SCHEMA.fields])
# the posting columns the per-shard bodies read
_SCAN_COLS = ["shard", "tid", "part", "doc_ids_enc", "tfs_enc", "dls_enc", "skips"]


def _pack_rows(rows: pd.DataFrame) -> list[dict]:
    """One term's posting rows → the cursor wire format (part-sorted, skip
    entries as plain tuples). The per-skip conversion is the expensive part
    — the executor packs each tid ONCE per shard and shares the result across
    every query's cursor (engine/wand.py TermCursor also shares decoded
    blocks)."""
    rs = rows.sort_values("part")
    return [
        {
            "doc_ids_enc": r.doc_ids_enc,
            "tfs_enc": r.tfs_enc,
            "dls_enc": r.dls_enc,
            "skips": [
                (
                    s["first_doc"] if isinstance(s, dict) else s[0],
                    s["doc_off"] if isinstance(s, dict) else s[1],
                    s["tf_off"] if isinstance(s, dict) else s[2],
                    s["dl_off"] if isinstance(s, dict) else s[3],
                    s["max_impact"] if isinstance(s, dict) else s[4],
                )
                for s in r.skips
            ],
        }
        for r in rs.itertuples(index=False)
    ]


@dataclass
class _Spec:
    """One query of an executor batch. `pos` / `neg` map analyzed term → tid
    in positive / must-not context; `idfs` covers `pos`. mode 'or' | 'and'
    runs the flat kernels (algo 'wand', or 'exhaustive' for the oracle
    path), 'tree' runs wand_tree_topk over `tree`."""

    qid: str
    pos: dict[str, int]
    neg: dict[str, int]
    idfs: dict[str, float]
    k: int
    mode: str = "or"
    after: tuple[float, int] | None = None
    min_match: int = 1
    algo: str = "wand"
    tree: object = None


def _exhaustive_hits(
    s: _Spec, pos: list[TermCursor], neg: list[TermCursor], not_ids, avgdl: float,
    round_to: int | None,
) -> list[tuple[int, float]]:
    """The oracle reference: decode every posting and score without skipping."""

    def decoded(c: TermCursor) -> list[np.ndarray]:
        parts = [
            decode_postings(r["doc_ids_enc"], r["tfs_enc"], r["dls_enc"], r["skips"])
            for r in c.rows
        ]
        return [np.concatenate(p) for p in zip(*parts)]

    lists = [(*decoded(c), c.idf) for c in pos]
    dead = [decoded(c)[0] for c in neg]
    if not_ids is not None and len(not_ids):
        dead.append(not_ids)
    return exhaustive_topk(
        lists, s.k, avgdl, mode=s.mode, must_not_ids=np.concatenate(dead) if dead else None,
        after=s.after, min_match=s.min_match, round_to=round_to,
    )


def _shard_topk_core(specs: list[_Spec], avgdl: float, round_to: int | None):
    """The executor's per-shard body: core(shard's posting rows, its sorted
    tombstoned ids or None) → local top-k rows (qid, doc_id, score) for every
    spec. Shared per-tid state across ALL specs: rows are packed once (skip-
    tuple conversion is per-entry Python) and every cursor over a tid shares
    one decoded-block memo — "the" appearing in 7 of 8 queries decodes once
    per shard, not 7 times."""

    def core(pdf: pd.DataFrame, not_ids=None) -> pd.DataFrame:
        # one pass → the shard's rows per tid (not a mask per term: O(R))
        by_tid = {int(t): g for t, g in pdf.groupby("tid", sort=False)}
        packed: dict[int, tuple[list, dict]] = {}

        def cursors(terms: dict[str, int], idfs: dict[str, float]) -> dict[str, TermCursor]:
            out = {}
            for term, t in terms.items():
                rows = by_tid.get(t)
                if rows is None:
                    continue
                if t not in packed:
                    packed[t] = (_pack_rows(rows), {})
                pk, cache = packed[t]
                out[term] = TermCursor(pk, idfs.get(term, 0.0), avgdl, cache=cache)
            return out

        out_q, out_d, out_s = [], [], []
        for s in specs:
            pos, neg = cursors(s.pos, s.idfs), cursors(s.neg, {})
            if not pos or (s.mode == "and" and len(pos) < len(s.pos)):
                continue
            if s.mode == "tree":
                hits = wand_tree_topk(
                    s.tree, pos, s.k, neg_cursors=neg, after=s.after, not_ids=not_ids,
                    round_to=round_to,
                )
            elif s.algo == "exhaustive":
                hits = _exhaustive_hits(
                    s, list(pos.values()), list(neg.values()), not_ids, avgdl, round_to
                )
            elif s.mode == "and":
                hits = intersect_topk(
                    list(pos.values()), s.k, must_not=list(neg.values()), after=s.after,
                    not_ids=not_ids, round_to=round_to,
                )
            else:
                hits = wand_topk(
                    list(pos.values()), s.k, must_not=list(neg.values()), after=s.after,
                    not_ids=not_ids, min_match=s.min_match, round_to=round_to,
                )
            for d, sc in hits:
                out_q.append(s.qid)
                out_d.append(d)
                out_s.append(sc)
        return pd.DataFrame({
            "qid": pd.Series(out_q, dtype=object),
            "doc_id": pd.Series(out_d, dtype="int64"),
            "score": pd.Series(out_s, dtype="float64"),
        })

    return core


class LoadedIndex:
    """Queryable handle over an on-disk index built by engine.index.build_index."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.manifest = IndexManifest.load(root)
        # scan-stage scoring is exact only on the shard layout
        check_shard_layout(os.path.join(root, "postings"))
        check_shard_layout(os.path.join(root, "tombstones"), one_file=False)
        self.postings = read_index_table(spark, root, "postings")
        self.term_dict = read_index_table(spark, root, "term_dict")
        self.doc_stats = read_index_table(spark, root, "doc_stats")
        # not a module-level import: every Python worker running a shard UDF
        # imports this module, and none of them reads term_dict
        import pyarrow.dataset as ds

        # the driver-side terms index: a pyarrow dataset over the term_dict
        # files, whose scans prune row groups by their footer min/max term
        self._td_files = ds.dataset(os.path.join(root, "term_dict"), format="parquet")
        self._td_cache: dict[str, tuple[int, int]] = {}
        # planned once, reused by every query: the pruned posting scan and
        # the coordinator's sort order (each DataFrame/Column call is a py4j
        # round trip)
        self._scan = self.postings.select(*_SCAN_COLS)
        self._order = (F.col("score").desc(), F.col("doc_id").asc())
        # delete-by-query marks (engine.mutate), one dir per shard that each
        # search's scoring task reads until expunge_deletes folds them away
        self._tomb_dir = os.path.join(root, "tombstones")

    def _lookup(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """D2 term-dict seek → {term: (df, tid)}, on the driver with
        no Spark job. Cache misses are one filtered pyarrow read: the range
        bounds let the scan skip every row group whose [min, max] term
        statistics miss [min(missing), max(missing)] (pyarrow prunes on
        comparisons, not on `isin`), so a single-term miss reads one row
        group of the sorted term_dict publish_index writes, and an index
        with any other layout is still answered exactly. The dictionary
        stores no tid: each hit's is derived from its term (tid_of)."""
        missing = [t for t in terms if t not in self._td_cache]
        if missing:
            import pyarrow.dataset as ds

            term = ds.field("term")
            hits = self._td_files.to_table(
                columns=["term", "df"],
                filter=term.isin(missing) & (term >= min(missing)) & (term <= max(missing)),
            )
            found, dfs = hits["term"].to_pylist(), hits["df"].to_pylist()
            self._td_cache.update((t, (df, tid_of(t))) for t, df in zip(found, dfs))
        return {t: self._td_cache[t] for t in terms if t in self._td_cache}

    def idf(self, df: int) -> float:
        return bm25.idf(df, self.manifest.n_docs)

    def _parse(self, texts: list[str]) -> tuple[list[ParsedQuery], dict]:
        """Analyze query strings with the analyzer the index manifest pins
        (rank identity: an english-stemmed index queried with
        standard-analyzed terms would silently miss), then ONE term-dict seek
        for the whole batch → (parsed queries, {term: (df, tid)})."""
        qs = [parse_query(t, self.manifest.analyzer) for t in texts]
        return qs, self._lookup([t for q in qs for t in q.terms + q.must_not])

    def _flat_spec(
        self, qid: str, q: ParsedQuery, found: dict, k: int, mode: str = "or",
        after: tuple[float, int] | None = None, min_match: int = 1, algo: str = "wand",
    ) -> _Spec | None:
        """A parsed flat query → its executor spec; None when no doc can
        match (no known positive term, an AND term missing from the
        dictionary, or fewer known terms than min_match)."""
        pos = {t: found[t][1] for t in q.terms if t in found}
        if not pos or (mode == "and" and len(pos) < len(q.terms)) or len(pos) < min_match:
            return None
        return _Spec(
            qid, pos, {t: found[t][1] for t in q.must_not if t in found},
            {t: self.idf(found[t][0]) for t in pos}, k, mode, after, min_match, algo,
        )

    def _shard_frame(
        self, specs: list[_Spec], core, schema: T.StructType, exclude: DataFrame | None = None
    ) -> DataFrame:
        """The one per-shard pass: scan the rows of every term the specs name
        (one SQL-text `tid IN (...)` pushed to the Parquet reader) and run
        core(shard's rows, its sorted dead ids or None) once per shard in
        the scan stage; a shard is one single-row-group file, so one task
        holds all its rows: no exchange. Dead ids are the shard's tombstones,
        read by the task (Lucene's per-segment `.liv` [public]: the index's
        dead set never goes through the driver), plus its slice of
        `exclude`, query input (ES `ids`) collected on the driver."""
        tids = {t for s in specs for t in (*s.pos.values(), *s.neg.values())}
        tids = ", ".join(f"{t}L" for t in sorted(tids))
        ex = [r[0] for r in exclude.select("doc_id").collect()] if exclude is not None else []
        ex = np.unique(np.array(ex, "int64"))
        tomb, dps = self._tomb_dir, self.manifest.docs_per_shard

        def dead(shard: int):
            ids = [ex[np.searchsorted(ex, shard * dps):np.searchsorted(ex, (shard + 1) * dps)]]
            if os.path.isdir(d := os.path.join(tomb, f"shard={shard}")):
                ids.append(pd.read_parquet(d, columns=["doc_id"])["doc_id"].to_numpy())
            ids = np.unique(np.concatenate(ids))
            return ids if len(ids) else None

        def fn(batches):
            pdfs = [b for b in batches if len(b)]
            for shard, rows in pd.concat(pdfs).groupby("shard", sort=False) if pdfs else ():
                yield core(rows, dead(int(shard)))

        return self._scan.filter(f"tid IN ({tids})").mapInPandas(fn, schema)

    def _execute(
        self, specs: list[_Spec], round_to: int | None, exclude: DataFrame | None = None
    ) -> DataFrame:
        """The shard-scoring executor → every spec's per-shard local top-k as
        (qid, doc_id, score), scores rounded as the kernels ranked them.
        Each shard's tombstones and `exclude` are the dead set."""
        core = _shard_topk_core(specs, self.manifest.avgdl, round_to)
        local = self._shard_frame(specs, core, BATCH_TOPK_SCHEMA, exclude)
        score = f"round(score, {round_to}) AS score" if round_to is not None else "score"
        return local.selectExpr("qid", "doc_id", score)

    def _topk(self, spec: _Spec, round_to: int | None, exclude: DataFrame | None) -> DataFrame:
        """One spec → its global top-k, ordered (score desc, doc_id asc)."""
        return (
            self._execute([spec], round_to, exclude)
            .drop("qid")
            .orderBy(*self._order)
            .limit(spec.k)
        )

    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        algo: str = "wand",
        round_to: int | None = 4,
        after: tuple[float, int] | None = None,
        exclude: DataFrame | None = None,
        min_should_match: int = 1,
        analyzer: str | None = None,
    ) -> DataFrame:
        """Top-k → DataFrame(doc_id, score) ordered (score desc, doc_id asc).

        algo: 'wand' (block-max, default) | 'exhaustive' (oracle path).
        after: resumable ranked cursor [public: ES search_after] — the
        (score, doc_id) of the last hit of the previous page; only hits
        sorting strictly after it are returned (pushed into the per-shard
        top-k heap, so deep pagination never widens k per shard).
        exclude: DataFrame(doc_id) of docs to treat as deleted, on top of the
        index's tombstones: query input, collected on the driver and split
        per shard (engine.mutate.delete_by_query writes the index's own dead
        set, which never goes through the driver)."""
        idx_an = self.manifest.analyzer
        if analyzer is not None and analyzer != idx_an:
            # rank-identity invariant: query analysis MUST match the config
            # recorded in the index manifest (an english-stemmed index
            # queried with standard-analyzed terms silently misses) —
            # loud failure, never a silent wrong answer
            raise ValueError(
                f"query analyzer {analyzer!r} != index analyzer {idx_an!r} "
                "(the index manifest pins the analysis chain)"
            )
        (q,), found = self._parse([query])
        spec = self._flat_spec("", q, found, k, mode, after, min_should_match, algo)
        if spec is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        return self._topk(spec, round_to, exclude)

    def search_tree(
        self,
        tree,
        k: int = 10,
        round_to: int | None = 4,
        after: tuple[float, int] | None = None,
        exclude: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k under a NESTED bool query tree (engine/boolquery.Bool/Term)
        on the block-max WAND path → DataFrame(doc_id, score), ordered
        (score desc, doc_id asc). Same executor as search(): one scan covers
        every leaf of the tree, per-shard wand_tree_topk, global top-k."""
        from .boolquery import collect_leaves, is_pure_bool

        if not is_pure_bool(tree):
            raise ValueError(
                "search_tree supports Bool/Term trees; dis_max/constant_score/"
                "boosting run on the exact path (engine.boolquery.tree_search)"
            )
        pos_t, neg_t = collect_leaves(tree)
        found = self._lookup(sorted(pos_t | neg_t))
        pos = {t: found[t][1] for t in pos_t if t in found}
        if not pos:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        # a term in both contexts keeps its positive cursor (match flags are
        # per term, context-free in eval_tree)
        neg = {t: found[t][1] for t in neg_t if t in found and t not in pos}
        idfs = {t: self.idf(found[t][0]) for t in pos}
        return self._topk(_Spec("", pos, neg, idfs, k, "tree", after, tree=tree), round_to, exclude)

    def search_many(
        self,
        queries: dict[str, str] | list[tuple[str, str]],
        k: int = 10,
        mode: str = "or",
        round_to: int | None = 4,
    ) -> DataFrame:
        """Batched top-k for a whole query set → DataFrame(qid, doc_id, score).

        ONE pruned postings scan + ONE per-shard Arrow pass answers every
        query (the reference query set runs as a batch job, not one Spark
        job per query): the tid predicate is the union over all queries,
        each shard computes every query's local top-k in-loop, and a single
        per-qid window finishes the coordinating merge. Per-query Spark
        overhead amortizes to ~zero.

        The merge input is at most len(specs) × n_shards × k rows, and the
        driver collects the result anyway: one exchange to a single
        partition serves both the window and the final sort, which then
        need no hash or range exchange of their own."""
        items = list(queries.items()) if isinstance(queries, dict) else list(queries)
        qs, found = self._parse([text for _, text in items])
        specs = [
            s for (qid, _), q in zip(items, qs)
            if (s := self._flat_spec(qid, q, found, k, mode)) is not None
        ]
        if not specs:
            return self.spark.createDataFrame([], BATCH_TOPK_SCHEMA)
        return (
            self._execute(specs, round_to)
            .repartition(1)
            .selectExpr(
                "*", "row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS _r"
            )
            .filter(f"_r <= {k}")
            .drop("_r")
            .orderBy("qid", *self._order)
        )

    def more_like_this(
        self,
        docs: DataFrame,
        doc_id: int,
        max_query_terms: int = 5,
        min_term_freq: int = 1,
        k: int = 10,
    ) -> DataFrame:
        """ES more_like_this [public]: analyze the source doc, keep its most
        "interesting" terms — ranked by tf·idf, ES's MLT term-selection
        heuristic — run them as an OR query and exclude the source doc
        (ES `include: false` default). Selection tie-break: (rounded tf·idf
        DESC, term ASC), rounded half-up at 6 decimals so the DuckDB oracle
        twin selects identically."""
        from .tokenizer import analyze

        row = docs.filter(F.col("doc_id") == int(doc_id)).select("text").collect()
        if not row:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        tf: dict[str, int] = {}
        for t in analyze(row[0]["text"],
                         getattr(self.manifest, "analyzer", "standard")):
            tf[t] = tf.get(t, 0) + 1
        cand = [t for t, c in tf.items() if c >= min_term_freq]
        found = self._lookup(cand)

        def sel_score(t: str) -> float:
            return math.floor(tf[t] * self.idf(found[t][0]) * 1e6 + 0.5) / 1e6

        cand = sorted((t for t in cand if t in found), key=lambda t: (-sel_score(t), t))
        terms = cand[:max_query_terms]
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        ex = self.spark.createDataFrame([(int(doc_id),)], TOMBSTONE_SCHEMA)
        return self.search(" ".join(terms), k=k, mode="or", exclude=ex)

    def rescore(
        self,
        docs: DataFrame,
        query: str,
        phrase: str,
        window_size: int = 50,
        weight: float = 2.0,
        k: int = 10,
        mode: str = "or",
    ) -> DataFrame:
        """ES rescore [public]: cheap first phase (block-max WAND top
        `window_size`), then an expensive second phase ONLY over that window
        — here a phrase-adjacency boost (`score + weight·[phrase in doc]`).
        The window (≤ window_size rows) is broadcast against the doc table,
        so phase two never rescans the corpus."""
        base = self.search(query, k=window_size, mode=mode)
        # escape LIKE metacharacters so a literal % or _ in the phrase does
        # not act as a wildcard
        esc = phrase.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        has_phrase = F.when(
            F.concat(F.lit(" "), F.col("text"), F.lit(" ")).like(f"% {esc} %"),
            F.lit(1.0),
        ).otherwise(F.lit(0.0))
        return (
            docs.select("doc_id", "text")
            .join(F.broadcast(base), "doc_id")
            .select(
                "doc_id",
                F.round(F.col("score") + F.lit(weight) * has_phrase, 4).alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def fetch(self, topk: DataFrame, docs: DataFrame, cols=None) -> DataFrame:
        from .search import fetch

        return fetch(topk, docs, cols)

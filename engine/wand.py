"""Block-max WAND top-k BM25 kernel (SURVEY.md §2.D7).

Implements the block-max WAND algorithm [public: Ding & Suel 2011, "Faster
top-k document retrieval using block-max indexes"; Lucene 8 WANDScorer /
impacts] over the engine's compressed posting rows:

* a `TermCursor` lazily decodes 128-doc blocks through the skip table
  (`next_geq` binary-searches block first_docs, then within the block) — the
  document-at-a-time skip path;
* one WAND pivot loop (`_wand_loop`) prunes with list-level upper bounds
  (idf·list max impact) and refines with block-level maxima before scoring;
  flat queries (`wand_topk`) and nested bool trees (`wand_tree_topk`) plug
  in their per-cursor bound weights and per-candidate evaluation;
* AND mode is a document-at-a-time posting-list intersection driven by the
  rarest list (BASELINE.json:6 verbatim capability), must_not lists exclude;
* tie-break is (score desc, doc_id asc) — because traversal is doc-ascending,
  pruning at `upper_bound <= θ` preserves rank identity under ties.

`exhaustive_topk` is the vectorized non-skipping scorer: the in-test oracle
(WAND == exhaustive is property-tested) and the dense fallback.

Everything is NumPy + heapq; runs inside the per-shard grouped Arrow UDF
(engine/searcher.py). Python-level iteration is per-pivot / per-block, never
per-posting-byte.
"""

from __future__ import annotations

import heapq

import numpy as np

from . import BM25_B, BM25_K1
from .codec import decode_block

INF = 1 << 62


class TermCursor:
    """Cursor over one term's posting rows (part-chained, doc-range ordered)."""

    __slots__ = (
        "idf", "avgdl", "k1", "b", "rows", "block_row", "block_local",
        "first_docs", "block_impacts", "n_blocks", "cur_block",
        "ids", "tfs", "dls", "i", "doc", "list_max_impact", "cache",
    )

    def __init__(self, rows: list[dict], idf: float, avgdl: float,
                 k1: float = BM25_K1, b: float = BM25_B,
                 cache: dict | None = None):
        """rows: dicts with doc_ids_enc, tfs_enc, dls_enc, skips (list of
        (first_doc, doc_off, tf_off, dl_off, max_impact)), block_max —
        sorted by `part` so doc ranges are ascending across rows.

        cache: optional SHARED decoded-block memo (block index → arrays) for
        cursors over the same rows list — batch search decodes each hot
        term's blocks once per shard, not once per query referencing it.
        Cursor POSITION stays per-cursor; only the immutable decode output
        is shared."""
        self.idf = idf
        self.avgdl = avgdl
        self.k1 = k1
        self.b = b
        self.rows = rows
        br, bl, fd, bi = [], [], [], []
        for ri, r in enumerate(rows):
            for li, s in enumerate(r["skips"]):
                br.append(ri)
                bl.append(li)
                fd.append(s[0])
                bi.append(s[4])
        self.block_row = np.asarray(br, dtype=np.int64)
        self.block_local = np.asarray(bl, dtype=np.int64)
        self.first_docs = np.asarray(fd, dtype=np.int64)
        self.block_impacts = np.asarray(bi, dtype=np.float64)
        self.n_blocks = len(fd)
        self.list_max_impact = float(self.block_impacts.max()) if self.n_blocks else 0.0
        self.cur_block = -1
        self.ids = self.tfs = self.dls = None
        self.i = 0
        self.doc = -1
        self.cache = cache
        if self.n_blocks == 0:
            self.doc = INF

    @property
    def max_score(self) -> float:
        return self.idf * self.list_max_impact

    def _load_block(self, bi: int) -> None:
        if self.cache is not None:
            ent = self.cache.get(bi)
            if ent is None:
                r = self.rows[self.block_row[bi]]
                ent = decode_block(
                    r["doc_ids_enc"], r["tfs_enc"], r["dls_enc"], r["skips"],
                    int(self.block_local[bi]),
                )
                self.cache[bi] = ent
            self.ids, self.tfs, self.dls = ent
        else:
            r = self.rows[self.block_row[bi]]
            self.ids, self.tfs, self.dls = decode_block(
                r["doc_ids_enc"], r["tfs_enc"], r["dls_enc"], r["skips"],
                int(self.block_local[bi]),
            )
        self.cur_block = bi

    def block_max_score_at(self, target: int) -> float:
        """Upper bound on this term's score at doc `target` from the block
        that would contain it (shallow: no decode)."""
        bi = int(np.searchsorted(self.first_docs, target, side="right")) - 1
        if bi < 0:
            bi = 0
        if bi >= self.n_blocks:
            return 0.0
        return self.idf * float(self.block_impacts[bi])

    def next_block_first_after(self, target: int) -> int:
        """first_doc of the block after the one containing `target` (the
        block-skip jump target); INF past the end."""
        bi = int(np.searchsorted(self.first_docs, target, side="right"))
        if bi >= self.n_blocks:
            return INF
        return int(self.first_docs[bi])

    def next_geq(self, target: int) -> int:
        """Advance to the first doc >= target (skip-table seek + in-block
        binary search). Returns the new current doc (INF if exhausted)."""
        if self.doc >= target:
            return self.doc
        bi = int(np.searchsorted(self.first_docs, target, side="right")) - 1
        if bi < 0:
            bi = 0
        if bi < self.cur_block:
            bi = self.cur_block
        while bi < self.n_blocks:
            if bi != self.cur_block:
                self._load_block(bi)
                self.i = 0
            j = int(np.searchsorted(self.ids, target, side="left"))
            if j < len(self.ids):
                self.i = j
                self.doc = int(self.ids[j])
                return self.doc
            bi += 1
        self.doc = INF
        return INF

    def advance(self) -> int:
        """Move to the next posting."""
        if self.doc >= INF:
            return INF
        self.i += 1
        if self.i < len(self.ids):
            self.doc = int(self.ids[self.i])
            return self.doc
        bi = self.cur_block + 1
        if bi < self.n_blocks:
            self._load_block(bi)
            self.i = 0
            self.doc = int(self.ids[0])
            return self.doc
        self.doc = INF
        return INF

    def score(self) -> float:
        tf = float(self.tfs[self.i])
        dl = float(self.dls[self.i])
        return self.idf * tf / (tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl))


def _push(heap: list, k: int, score: float, doc: int) -> float:
    """Maintain min-heap of k best (score, -doc). Returns new threshold θ."""
    item = (score, -doc)
    if len(heap) < k:
        heapq.heappush(heap, item)
    elif item > heap[0]:
        heapq.heapreplace(heap, item)
    return heap[0][0] if len(heap) >= k else float("-inf")


def _heap_result(heap: list) -> list[tuple[int, float]]:
    out = sorted(heap, key=lambda it: (-it[0], -it[1]))
    return [(-nd, s) for s, nd in out]


def _excluded(doc: int, must_not: list[TermCursor]) -> bool:
    return any(c.next_geq(doc) == doc for c in must_not)


def _tombstoned(doc: int, not_ids: np.ndarray | None) -> bool:
    """Live-docs check: `not_ids` is the shard's SORTED tombstoned doc_ids
    (delete-by-query marks; the analog of Lucene's per-segment live-docs
    bitset [public]). Binary search per candidate — O(log m) like a bitmap
    probe, and only candidates that reach scoring pay it."""
    if not_ids is None or not len(not_ids):
        return False
    j = int(np.searchsorted(not_ids, doc))
    return j < len(not_ids) and int(not_ids[j]) == doc


def _round_half_up(s: float, nd: int = 4) -> float:
    """EXACTLY match Spark's F.round on doubles: Catalyst rounds
    BigDecimal.valueOf(double) — i.e. the SHORTEST decimal representation —
    with HALF_UP. Python's repr() produces the same shortest representation,
    so Decimal(repr(s)) + ROUND_HALF_UP is bit-identical to Spark.
    (The previous floor(s*1e4+0.5) operated on the scaled binary double and
    diverged on .xxxx5 boundaries: 0.12345*1e4 == 1234.4999999999998.)"""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(float(s))).quantize(q, rounding=ROUND_HALF_UP))


def _rank_score(s: float, round_to: int | None) -> float:
    """The ranking key a hit competes with: the Spark-rounded score when the
    search rounds (the default), else the raw score. Heap ordering, θ, and
    the search_after boundary must all live on THIS key — selecting by raw
    score while pages display rounded scores loses rounded-tie hits whose
    doc_id should win the tie."""
    return _round_half_up(s, round_to) if round_to is not None else s


def _after_ok(
    score: float, doc: int, after: tuple[float, int] | None, round_to: int | None = 4
) -> bool:
    """search_after cursor predicate: hit qualifies iff it sorts strictly
    AFTER (after_score, after_doc) in page order (ranking score DESC, doc
    ASC). Compared on the same ranking key the caller's page-1 output used
    [public: ES search_after]."""
    if after is None:
        return True
    r = _rank_score(score, round_to)
    return r < after[0] or (r == after[0] and doc > after[1])


def _wand_loop(
    items: list[tuple[int, TermCursor]],
    k: int,
    evaluate,
    after: tuple[float, int] | None,
    not_ids: np.ndarray | None,
    round_to: int | None,
) -> list[tuple[int, float]]:
    """The block-max WAND pivot loop behind wand_topk and wand_tree_topk.

    items: (bound weight, cursor) pairs — a cursor's score bound is
    weight · (list or block) max score. evaluate(doc, aligned) → score, or
    None to reject the doc; `aligned` is every cursor positioned on `doc`, in
    pivot order. Tombstones, the after boundary and the heap live here."""
    active = [(w, c) for w, c in items if c.n_blocks > 0]
    for _, c in active:
        c.next_geq(0)
    heap: list = []
    theta = float("-inf")
    while True:
        active = [wc for wc in active if wc[1].doc < INF]
        if not active:
            break
        active.sort(key=lambda wc: wc[1].doc)
        # pivot: first prefix whose summed list upper bounds can beat θ
        acc = 0.0
        pivot = -1
        for p, (w, c) in enumerate(active):
            acc += w * c.max_score
            if len(heap) < k or acc > theta:
                pivot = p
                break
        if pivot == -1:
            break  # total remaining upper bound <= θ: done
        pivot_doc = active[pivot][1].doc
        # include every cursor currently positioned ON pivot_doc — they all
        # contribute to its score, so they must count in the upper bound
        lim = pivot
        while lim + 1 < len(active) and active[lim + 1][1].doc == pivot_doc:
            lim += 1
        if len(heap) >= k:
            # block-max refinement (BMW): shallow block UBs at pivot_doc
            bub = sum(w * c.block_max_score_at(pivot_doc) for w, c in active[: lim + 1])
            if bub <= theta:
                # skip: jump past the nearest block boundary, but never past
                # the next unaligned cursor's doc — lists beyond the pivot
                # set start contributing there (Ding & Suel GetNewCandidate)
                d = min(c.next_block_first_after(pivot_doc) for _, c in active[: lim + 1])
                if lim + 1 < len(active):
                    d = min(d, active[lim + 1][1].doc)
                d = max(d, pivot_doc + 1)
                for _, c in active[: lim + 1]:
                    if c.doc < d:
                        c.next_geq(d)
                continue
        if active[0][1].doc == pivot_doc:
            # fully evaluate pivot_doc: sorted by doc, so active[: lim + 1]
            # is exactly the cursors positioned on it
            aligned = [c for _, c in active[: lim + 1]]
            if not _tombstoned(pivot_doc, not_ids):
                s = evaluate(pivot_doc, aligned)
                if s is not None and _after_ok(s, pivot_doc, after, round_to):
                    theta = _push(heap, k, _rank_score(s, round_to), pivot_doc)
            for c in aligned:
                c.next_geq(pivot_doc + 1)
        else:
            for _, c in active[:pivot]:
                if c.doc < pivot_doc:
                    c.next_geq(pivot_doc)
    return _heap_result(heap)


def wand_topk(
    cursors: list[TermCursor],
    k: int,
    must_not: list[TermCursor] | None = None,
    after: tuple[float, int] | None = None,
    not_ids: np.ndarray | None = None,
    min_match: int = 1,
    round_to: int | None = 4,
) -> list[tuple[int, float]]:
    """Block-max WAND disjunctive top-k → [(doc_id, score)] rank-ordered.

    round_to: the search's score rounding — heap ordering, θ and the after
    boundary all use the ROUNDED score (the key pages are sorted by), so a
    raw-score near-tie can never drop a hit whose rounded tie the doc-asc
    order should win. Pruning stays sound: θ is a rounded heap value (on the
    rounding grid, idempotent), and any candidate with raw upper bound
    ≤ θ has round(s) ≤ θ, which loses the tie to the incumbent under
    doc-ascending traversal.

    after: resumable-cursor pagination — only hits sorting strictly after
    (score, doc_id) enter the heap; θ pruning still rises from the heap as
    usual (hits BELOW the cursor score must stay reachable, so the cursor
    itself cannot seed θ).
    not_ids: sorted tombstoned doc_ids (delete-by-query live-docs filter).
    min_match: ES minimum_should_match / terms_set [public] — a doc needs at
    least this many distinct query terms to qualify. WAND's prefix-sum upper
    bound stays a valid bound (it never understates), so pruning is sound;
    under-matched docs are rejected at evaluation."""
    must_not = must_not or []

    def evaluate(doc: int, aligned: list[TermCursor]) -> float | None:
        if _excluded(doc, must_not):
            return None
        s = 0.0
        for c in aligned:
            s += c.score()
        return s if len(aligned) >= min_match else None

    return _wand_loop([(1, c) for c in cursors], k, evaluate, after, not_ids, round_to)


def wand_tree_topk(
    tree,
    pos_cursors: dict[str, TermCursor],
    k: int,
    neg_cursors: dict[str, TermCursor] | None = None,
    after: tuple[float, int] | None = None,
    not_ids: np.ndarray | None = None,
    round_to: int | None = 4,
) -> list[tuple[int, float]]:
    """Block-max WAND top-k under a NESTED bool query tree
    (engine/boolquery.py) → [(doc_id, score)] rank-ordered.

    Pruning bound: any bool-tree score is ≤ Σ of the matched positive
    leaves' partials (every contribution in a bool tree IS some leaf's
    partial, counted at most once per leaf occurrence), so the flat WAND
    pivot bound Σ max_score over the candidate prefix — and its shallow
    block-max refinement — stay sound unchanged. The tree only tightens
    acceptance, never raises a score above the flat-OR bound. Restricted to
    Bool/Term trees (boolquery.is_pure_bool); dis_max/constant_score/
    boosting run on the exact path where no bound is needed.

    Candidates are driven by the positive-context leaf cursors; negated-only
    leaves (under must_not) advance lazily via next_geq at evaluation, like
    flat WAND's must_not lists. Acceptance + scoring is one
    boolquery.eval_tree walk per surviving candidate."""
    from .boolquery import eval_tree, is_pure_bool, scoring_multiplicity

    if not is_pure_bool(tree):
        raise ValueError("wand_tree_topk supports Bool/Term trees only")
    neg_cursors = neg_cursors or {}
    # per-cursor bound weight: a term in m scoring clauses contributes its
    # partial up to m times (see boolquery.scoring_multiplicity); pure
    # filter/negation-context terms weigh 0 (they gate, never score)
    mult = scoring_multiplicity(tree)
    term_of = {c: t for t, c in pos_cursors.items()}

    def evaluate(doc: int, aligned: list[TermCursor]) -> float | None:
        matched: dict[str, bool] = {}
        partial: dict[str, float] = {}
        for c in aligned:
            t = term_of[c]
            matched[t] = True
            partial[t] = c.score()
        for t, c in neg_cursors.items():
            if c.next_geq(doc) == doc:
                matched[t] = True
        ok, s = eval_tree(tree, matched, partial)
        return s if ok else None

    items = [(mult.get(t, 0), c) for t, c in pos_cursors.items()]
    return _wand_loop(items, k, evaluate, after, not_ids, round_to)


def intersect_topk(
    cursors: list[TermCursor],
    k: int,
    must_not: list[TermCursor] | None = None,
    after: tuple[float, int] | None = None,
    not_ids: np.ndarray | None = None,
    round_to: int | None = 4,
) -> list[tuple[int, float]]:
    """Conjunctive (bool.must) top-k: document-at-a-time posting-list
    intersection led by the rarest list, galloping via next_geq
    (BASELINE.json:6). not_ids: sorted tombstoned doc_ids. round_to: see
    wand_topk — selection and the after boundary use the rounded key."""
    must_not = must_not or []
    if not cursors or any(c.n_blocks == 0 for c in cursors):
        return []
    order = sorted(cursors, key=lambda c: c.first_docs.shape[0])  # rarest first
    lead, rest = order[0], order[1:]
    heap: list = []
    d = lead.next_geq(0)
    while d < INF:
        aligned = True
        for c in rest:
            d2 = c.next_geq(d)
            if d2 != d:
                d = lead.next_geq(d2)
                aligned = False
                break
        if aligned:
            if not _tombstoned(d, not_ids) and not _excluded(d, must_not):
                s = sum(c.score() for c in order)
                if _after_ok(s, d, after, round_to):
                    _push(heap, k, _rank_score(s, round_to), d)
            d = lead.next_geq(d + 1)
    return _heap_result(heap)


def exhaustive_topk(
    lists: list[tuple[np.ndarray, np.ndarray, np.ndarray, float]],
    k: int,
    avgdl: float,
    mode: str = "or",
    must_not_ids: np.ndarray | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    after: tuple[float, int] | None = None,
    min_match: int = 1,
    round_to: int | None = 4,
) -> list[tuple[int, float]]:
    """Non-skipping vectorized scorer — the oracle twin of wand/intersect.

    lists: per term (doc_ids, tfs, dls, idf). round_to: selection, the after
    boundary and returned scores all use the SAME Spark-equivalent rounded
    key as wand/intersect (see _rank_score) so the oracle can never disagree
    with the pruned paths on a rounding-boundary tie."""
    if not lists:
        return []
    ids = np.concatenate([l[0] for l in lists])
    if len(ids) == 0:
        return []
    partials = np.concatenate(
        [
            l[3] * l[1].astype(np.float64)
            / (l[1] + k1 * (1.0 - b + b * l[2].astype(np.float64) / avgdl))
            for l in lists
        ]
    )
    uniq, inv = np.unique(ids, return_inverse=True)
    scores = np.zeros(len(uniq))
    np.add.at(scores, inv, partials)
    counts = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(counts, inv, 1)
    mask = np.ones(len(uniq), dtype=bool)
    if mode == "and":
        mask &= counts == len(lists)
    if min_match > 1:
        mask &= counts >= min_match
    if must_not_ids is not None and len(must_not_ids):
        mask &= ~np.isin(uniq, must_not_ids)
    uniq, scores = uniq[mask], scores[mask]
    if len(uniq) == 0:
        return []
    if round_to is not None:
        scores = np.asarray([_round_half_up(float(s), round_to) for s in scores])
    if after is not None:
        m2 = (scores < after[0]) | ((scores == after[0]) & (uniq > after[1]))
        uniq, scores = uniq[m2], scores[m2]
        if len(uniq) == 0:
            return []
    sel = np.lexsort((uniq, -scores))[:k]
    return [(int(uniq[i]), float(scores[i])) for i in sel]

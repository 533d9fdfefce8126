"""WAND == exhaustive property tests on random synthetic corpora (SURVEY §5.4)."""

import numpy as np
import pytest

from engine.bm25 import idf_np
from engine.codec import encode_postings
from engine.wand import TermCursor, exhaustive_topk, intersect_topk, wand_topk


def make_corpus(rng, n_docs=400, n_terms=8, density=0.3, block_size=16):
    """Random per-term posting lists over a shared doc space."""
    dls = rng.integers(5, 300, size=n_docs)
    avgdl = float(dls.mean())
    lists, cursors, encs = [], [], []
    for _ in range(n_terms):
        mask = rng.random(n_docs) < density * rng.random()
        ids = np.flatnonzero(mask).astype(np.int64)
        if len(ids) == 0:
            ids = np.array([int(rng.integers(0, n_docs))], dtype=np.int64)
        tfs = rng.integers(1, 20, size=len(ids))
        dl = dls[ids]
        df = len(ids)
        idf = float(idf_np(df, n_docs))
        enc = encode_postings(ids, tfs, dl, avgdl, block_size=block_size)
        lists.append((ids, tfs, dl, idf))
        encs.append(enc)
        cursors.append((enc, idf))
    return lists, cursors, avgdl


def cursors_from(encs_idfs, avgdl):
    return [
        TermCursor(
            [
                {
                    "doc_ids_enc": e["doc_ids_enc"],
                    "tfs_enc": e["tfs_enc"],
                    "dls_enc": e["dls_enc"],
                    "skips": e["skips"],
                }
            ],
            idf,
            avgdl,
        )
        for e, idf in encs_idfs
    ]


@pytest.mark.parametrize("seed", range(25))
@pytest.mark.parametrize(
    "k,tombstones",
    [
        pytest.param(k, t, id=f"{k}-tombstones" if t else str(k))
        for t in (False, True)
        for k in (1, 5, 50)
    ],
)
def test_wand_equals_exhaustive_or(seed, k, tombstones):
    rng = np.random.default_rng(seed)
    lists, encs_idfs, avgdl = make_corpus(rng)
    nq = int(rng.integers(1, 5))
    q = rng.choice(len(lists), size=nq, replace=False)
    not_ids = None
    if tombstones:
        # a sorted live-docs filter over ~1/3 of the query's candidate docs
        cand = np.unique(np.concatenate([lists[i][0] for i in q]))
        not_ids = cand[rng.random(len(cand)) < 1 / 3]
    want = exhaustive_topk(
        [lists[i] for i in q], k, avgdl, mode="or", must_not_ids=not_ids
    )
    got = wand_topk(cursors_from([encs_idfs[i] for i in q], avgdl), k, not_ids=not_ids)
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in want], rtol=1e-9
    )


@pytest.mark.parametrize("seed", range(15))
def test_intersect_equals_exhaustive_and(seed):
    rng = np.random.default_rng(seed + 1000)
    lists, encs_idfs, avgdl = make_corpus(rng, density=0.6)
    nq = int(rng.integers(2, 4))
    q = rng.choice(len(lists), size=nq, replace=False)
    want = exhaustive_topk([lists[i] for i in q], 10, avgdl, mode="and")
    got = intersect_topk(cursors_from([encs_idfs[i] for i in q], avgdl), 10)
    assert [d for d, _ in got] == [d for d, _ in want]


@pytest.mark.parametrize("seed", range(10))
def test_wand_with_must_not(seed):
    rng = np.random.default_rng(seed + 2000)
    lists, encs_idfs, avgdl = make_corpus(rng, density=0.5)
    q, neg = [0, 1], [2]
    want = exhaustive_topk(
        [lists[i] for i in q], 10, avgdl, mode="or", must_not_ids=lists[2][0]
    )
    got = wand_topk(
        cursors_from([encs_idfs[i] for i in q], avgdl),
        10,
        must_not=cursors_from([encs_idfs[i] for i in neg], avgdl),
    )
    assert [d for d, _ in got] == [d for d, _ in want]


def test_cursor_next_geq_and_skip():
    rng = np.random.default_rng(3)
    ids = np.sort(rng.choice(100_000, size=5000, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 10, size=5000)
    dls = rng.integers(10, 100, size=5000)
    enc = encode_postings(ids, tfs, dls, avgdl=50.0, block_size=128)
    c = TermCursor(
        [{
            "doc_ids_enc": enc["doc_ids_enc"],
            "tfs_enc": enc["tfs_enc"],
            "dls_enc": enc["dls_enc"],
            "skips": enc["skips"],
        }],
        idf=1.0,
        avgdl=50.0,
    )
    # next_geq lands on the true successor for ascending targets
    # (cursors are forward-only — the WAND loop never seeks backwards)
    targets = sorted([0, 1, int(ids[17]), int(ids[17]) + 1, int(ids[4000]), int(ids[-1])])
    for target in targets:
        expected = int(ids[np.searchsorted(ids, target, side="left")])
        got = c.next_geq(target)
        assert got == max(expected, c.doc)
    assert c.next_geq(int(ids[-1]) + 1) >= 1 << 62


def test_tie_break_doc_id_asc():
    # identical postings → identical scores → top-k must be lowest doc_ids
    ids = np.arange(100, dtype=np.int64)
    tfs = np.full(100, 3)
    dls = np.full(100, 50)
    enc = encode_postings(ids, tfs, dls, avgdl=50.0, block_size=16)
    c = [
        TermCursor(
            [{
                "doc_ids_enc": enc["doc_ids_enc"],
                "tfs_enc": enc["tfs_enc"],
                "dls_enc": enc["dls_enc"],
                "skips": enc["skips"],
            }],
            idf=1.5,
            avgdl=50.0,
        )
    ]
    got = wand_topk(c, 5)
    assert [d for d, _ in got] == [0, 1, 2, 3, 4]


class TestSearchAfter:
    """ES search_after parity: page1 ∪ page2 == top-2k, rank-preserved."""

    def test_pages_partition_topk(self, spark, sf_dir):
        from engine.registry import _indexed

        idx = _indexed(spark, sf_dir)
        for query, mode in [("table", "or"), ("customer order", "and"),
                            ("sort merge join", "or")]:
            top20 = idx.search(query, k=20, mode=mode).collect()
            p1 = idx.search(query, k=10, mode=mode).collect()
            if len(p1) < 10:
                continue
            last = p1[-1]
            p2 = idx.search(
                query, k=10, mode=mode,
                after=(float(last["score"]), int(last["doc_id"])),
            ).collect()
            got = [(r["doc_id"], r["score"]) for r in p1 + p2]
            want = [(r["doc_id"], r["score"]) for r in top20]
            assert got == want, (query, mode)

    def test_after_exhausts(self, spark, sf_dir):
        from engine.registry import _indexed

        idx = _indexed(spark, sf_dir)
        # a rare term with few hits: paging past the end returns empty
        hits = idx.search("dup", k=1000, mode="or").collect()
        last = hits[-1]
        nxt = idx.search(
            "dup", k=10, mode="or",
            after=(float(last["score"]), int(last["doc_id"])),
        ).collect()
        assert nxt == []

    def test_after_matches_exhaustive(self, spark, sf_dir):
        from engine.registry import _indexed

        idx = _indexed(spark, sf_dir)
        p1 = idx.search("table scan", k=5, mode="or").collect()
        last = p1[-1]
        after = (float(last["score"]), int(last["doc_id"]))
        wand = idx.search("table scan", k=5, mode="or", algo="wand", after=after).collect()
        ex = idx.search("table scan", k=5, mode="or", algo="exhaustive", after=after).collect()
        assert [(r["doc_id"], r["score"]) for r in wand] == [
            (r["doc_id"], r["score"]) for r in ex
        ]


@pytest.mark.parametrize("seed", range(15))
@pytest.mark.parametrize("min_match", [2, 3])
def test_wand_min_match_equals_exhaustive(seed, min_match):
    """minimum_should_match (ES terms_set): WAND with the under-match reject
    == vectorized count filter, rank-identical."""
    rng = np.random.default_rng(seed + 1000)
    lists, encs_idfs, avgdl = make_corpus(rng)
    nq = int(rng.integers(min_match, 6))
    q = rng.choice(len(lists), size=nq, replace=False)
    want = exhaustive_topk(
        [lists[i] for i in q], 10, avgdl, mode="or", min_match=min_match
    )
    got = wand_topk(
        cursors_from([encs_idfs[i] for i in q], avgdl), 10, min_match=min_match
    )
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in want], rtol=1e-12
    )
    # every hit genuinely matches >= min_match terms
    for d, _ in got:
        n = sum(1 for i in q if d in set(lists[i][0].tolist()))
        assert n >= min_match


def test_round_half_up_matches_spark(spark):
    """_round_half_up must be bit-identical to Spark's F.round (the kernel
    ranks on it and Spark re-rounds the emitted score — any divergence would
    make the ranking key differ from the displayed score)."""
    from pyspark.sql import functions as F

    from engine.wand import _round_half_up

    vals = [0.12345, 0.12344999, 0.99995, 1.00005, 0.00005, 2.5e-5,
            0.12335, 3.14159265, 0.1234499999999999, 17.55555]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r[0] for r in df.select(F.round(F.col("v"), 4)).collect()]
    ours = [_round_half_up(v) for v in vals]
    assert got == ours, list(zip(vals, got, ours))


def test_wand_rounded_tie_prefers_lower_doc():
    """Two docs whose raw scores differ but round to the same 4-dp value:
    the kernel must keep the LOWER doc_id (page order is rounded desc, doc
    asc) even when the higher doc has the larger raw score."""
    import numpy as np

    from engine.codec import encode_postings
    from engine.wand import TermCursor, wand_topk

    avgdl = 10.0
    # craft two docs with slightly different dl -> tiny raw score gap that
    # vanishes at 4dp: tf=5, dl 10 vs 10 (identical) would tie exactly, so
    # use tf differences that survive: verify via computed scores below
    ids = np.array([3, 9])
    tfs = np.array([1000000, 1000001])  # impacts differ ~1e-10 -> round equal
    dls = np.array([10, 10])
    enc = encode_postings(ids, tfs, dls, avgdl)
    rows = [{
        "doc_ids_enc": enc["doc_ids_enc"], "tfs_enc": enc["tfs_enc"],
        "dls_enc": enc["dls_enc"], "skips": enc["skips"],
    }]
    c = TermCursor(rows, idf=1.0, avgdl=avgdl)
    hits = wand_topk([c], k=1)
    assert hits[0][0] == 3, hits  # doc 9's raw score is higher; rounded ties -> doc 3

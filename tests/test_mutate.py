"""Delete-by-query / update-by-query / expunge tests (engine/mutate.py).

Property chain: tombstoned search == search over the surviving corpus with
PRE-delete stats (ES semantics: deleted docs still count in df/avgdl until
merge); expunge == from-scratch build over survivors; update_by_query ==
from-scratch build over the transformed corpus (keys compared, ids differ).
"""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine import mutate
from engine.index import build_index
from engine.io import read_fixture
from engine.searcher import LoadedIndex

QUERIES = [
    ("table", 10, "or"),
    ("sort merge join", 10, "and"),
    ("window stream", 10, "or"),
    ("scan -filter", 10, "or"),
]

DELETE_Q = "customer order"  # AND-match: docs containing both


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_fixture(spark, sf_dir, "documents").select("doc_id", "text")


def _build(spark, docs, root):
    build_index(
        spark, docs, root, n_buckets=4, docs_per_shard=128, n_segments=1,
        hot_df=None, block_size=32,
    )
    return LoadedIndex(spark, root)


@pytest.fixture()
def index(spark, docs, tmp_path):
    return _build(spark, docs, str(tmp_path / "idx"))


def _hits(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def test_match_doc_ids(spark, index, docs):
    got = sorted(r["doc_id"] for r in mutate.match_doc_ids(index, DELETE_Q, "and").collect())
    want = sorted(
        r["doc_id"]
        for r in docs.filter(
            F.array_contains(F.split("text", " "), "customer")
            & F.array_contains(F.split("text", " "), "order")
        ).collect()
    )
    assert got == want and len(want) > 0


def test_delete_by_query_excludes_hits(spark, index, docs):
    n = mutate.delete_by_query(index, DELETE_Q, mode="and")
    assert n > 0
    dead = {r["doc_id"] for r in index.tombstones.collect()}
    for q, k, mode in QUERIES:
        for algo in ("wand", "exhaustive"):
            hits = _hits(index.search(q, k=k, mode=mode, algo=algo))
            assert not ({d for d, _ in hits} & dead), (q, algo)
    # idempotent: re-deleting the same query adds nothing
    assert mutate.delete_by_query(index, DELETE_Q, mode="and") == 0
    # a freshly loaded handle picks the tombstones up from disk
    fresh = LoadedIndex(spark, index.root)
    got = _hits(fresh.search("table", k=10))
    assert got == _hits(index.search("table", k=10))


def test_tombstoned_search_keeps_predelete_stats(spark, index, docs):
    """ES semantics: before merge, deleted docs still count in df/idf/avgdl.
    Tombstoned search == brute-force rank over survivors scored with the
    ORIGINAL stats — i.e. exhaustive search + exclude, same index."""
    mutate.delete_by_query(index, DELETE_Q, mode="and")
    for q, k, mode in QUERIES:
        wand = _hits(index.search(q, k=k, mode=mode, algo="wand"))
        exh = _hits(index.search(q, k=k, mode=mode, algo="exhaustive"))
        assert wand == exh, q


def test_expunge_equals_fresh_build(spark, index, docs, tmp_path):
    mutate.delete_by_query(index, DELETE_Q, mode="and")
    dead = {r["doc_id"] for r in index.tombstones.collect()}
    m = mutate.expunge_deletes(spark, index.root)
    expunged = LoadedIndex(spark, index.root)
    survivors = docs.filter(~F.col("doc_id").isin(list(dead)))
    fresh = _build(spark, survivors, str(tmp_path / "fresh"))
    assert expunged.tombstones is None
    assert m.n_docs == fresh.manifest.n_docs
    assert m.avgdl == pytest.approx(fresh.manifest.avgdl)
    # identical doc_ids survive, so (doc_id, score) must match exactly
    for q, k, mode in QUERIES:
        assert _hits(expunged.search(q, k=k, mode=mode)) == _hits(
            fresh.search(q, k=k, mode=mode)
        ), q
    # term_dict df/cf rebuilt: spot-check against the fresh dictionary
    got = {r["term"]: (r["df"], r["cf"]) for r in expunged.term_dict.collect()}
    want = {r["term"]: (r["df"], r["cf"]) for r in fresh.term_dict.collect()}
    assert got == want


def test_update_by_query_equals_fresh_build_on_transformed(spark, docs, tmp_path):
    idx = _build(spark, docs, str(tmp_path / "upd"))
    predicate = F.concat(F.lit(" "), F.col("text"), F.lit(" ")).like("% data %")

    def transform(matched):
        return matched.withColumn("text", F.concat(F.col("text"), F.lit(" zzupdated")))

    manifest, mapping = mutate.update_by_query(
        spark, idx.root, docs, predicate, transform, key_col="doc_id"
    )
    updated = LoadedIndex(spark, idx.root)

    transformed = docs.withColumn(
        "text",
        F.when(predicate, F.concat(F.col("text"), F.lit(" zzupdated"))).otherwise(
            F.col("text")
        ),
    )
    fresh = _build(spark, transformed, str(tmp_path / "freshT"))
    assert manifest.n_docs == fresh.manifest.n_docs
    assert manifest.avgdl == pytest.approx(fresh.manifest.avgdl)

    # k > corpus size: internal ids differ between the two indexes (updated
    # docs get fresh ids), so a top-k BOUNDARY tie would legally pick
    # different docs; with every match returned the sets must be identical
    key_of = {int(r["doc_id"]): int(r["key"]) for r in mapping.collect()}
    k_all = fresh.manifest.n_docs + 1
    for q in ["zzupdated", "table", "data big", "sort merge join"]:
        mode = "and" if q == "sort merge join" else "or"
        got = sorted(
            (key_of[d], s) for d, s in _hits(updated.search(q, k=k_all, mode=mode))
        )
        want = sorted((d, s) for d, s in _hits(fresh.search(q, k=k_all, mode=mode)))
        assert got == want, q


def test_merge_drop_ids_unit(spark):
    """drop_ids path of merge_postings: tombstoned ids vanish, others keep
    their (tf, dl)."""
    import pandas as pd

    from engine.codec import decode_postings, encode_postings
    from engine.index import POSTINGS_SCHEMA
    from engine.merge import merge_postings

    ids = np.arange(0, 50, dtype=np.int64)
    tfs = (ids % 5 + 1).astype(np.int64)
    dls = np.full(50, 40, dtype=np.int64)
    enc = encode_postings(ids, tfs, dls, avgdl=40.0, block_size=8)
    row = (
        7, 0, 0, 0, 0, enc["df"], enc["cf"], enc["doc_ids_enc"], enc["tfs_enc"],
        enc["dls_enc"], enc["skips"], enc["block_max"],
    )
    pdf = pd.DataFrame([row], columns=[f.name for f in POSTINGS_SCHEMA.fields])
    postings = spark.createDataFrame(pdf, POSTINGS_SCHEMA)
    drop = np.array([0, 13, 49], dtype=np.int64)
    out = merge_postings(postings, avgdl=40.0, block_size=8, drop_ids=drop).collect()
    assert len(out) == 1
    r = out[0]
    got_ids, got_tfs, _ = decode_postings(
        r["doc_ids_enc"], r["tfs_enc"], r["dls_enc"], [tuple(s) for s in r["skips"]]
    )
    keep = ~np.isin(ids, drop)
    assert np.array_equal(got_ids, ids[keep])
    assert np.array_equal(got_tfs, tfs[keep])
    assert r["df"] == keep.sum()


def test_search_many_respects_tombstones(spark, index):
    n = mutate.delete_by_query(index, DELETE_Q, mode="and")
    assert n > 0
    dead = {r["doc_id"] for r in index.tombstones.collect()}
    res = index.search_many({"q1": "table", "q2": "sort merge join"}, k=10)
    hits = {int(r["doc_id"]) for r in res.collect()}
    assert not (hits & dead)



def _tree_of(query, mode):
    """The search_tree twin of a flat query: OR → should, AND → must,
    -words → must_not."""
    from engine.boolquery import Bool, Term
    from engine.search import parse_query

    q = parse_query(query)
    pos = tuple(Term(t) for t in q.terms)
    neg = tuple(Term(t) for t in q.must_not)
    return Bool(must=pos, must_not=neg) if mode == "and" else Bool(should=pos, must_not=neg)


def test_entry_points_agree_with_and_without_tombstones(spark, index):
    """search(q), search_many({qid: q})[qid] and search_tree(twin of q) are
    rank-identical for OR, AND and must-not queries, before and after a
    delete_by_query leaves live tombstones."""
    cases = [("window stream", "or"), ("sort merge join", "and"), ("scan -filter", "or")]

    def answers():
        out = []
        for query, mode in cases:
            single = _hits(index.search(query, k=10, mode=mode))
            many = _hits(index.search_many({"q": query}, k=10, mode=mode))
            tree = _hits(index.search_tree(_tree_of(query, mode), k=10))
            assert single, query
            assert many == single, (query, mode)
            assert tree == single, (query, mode)
            out.append(single)
        return out

    before = answers()
    assert mutate.delete_by_query(index, DELETE_Q, mode="and") > 0
    dead = {int(r["doc_id"]) for r in index.tombstones.collect()}
    # non-vacuous: the tombstones remove hits the queries returned before
    assert any(d in dead for hits in before for d, _ in hits)
    after = answers()
    assert not any(d in dead for hits in after for d, _ in hits)


def test_search_plans_cogroup_only_with_tombstones(spark, index):
    """Without tombstones a search is one grouped Arrow map; with live
    tombstones it is exactly one cogroup (no extra exchange otherwise)."""

    def pandas_nodes(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("FlatMapGroupsInPandas"), plan.count("FlatMapCoGroupsInPandas")

    assert pandas_nodes(index.search("table", k=10)) == (1, 0)
    assert mutate.delete_by_query(index, DELETE_Q, mode="and") > 0
    assert pandas_nodes(index.search("table", k=10)) == (0, 1)

def test_update_by_query_does_not_resurrect_tombstoned(spark, docs, tmp_path):
    """ES _update_by_query only processes LIVE docs: a doc tombstoned by
    delete_by_query must not be reindexed (resurrected) just because the
    update predicate also matches it."""
    idx = _build(spark, docs, str(tmp_path / "resur"))
    # tombstone every doc matching DELETE_Q
    mutate.delete_by_query(idx, DELETE_Q, mode="and")
    tomb = mutate.load_tombstones(spark, idx.root)
    dead_ids = {int(r["doc_id"]) for r in tomb.collect()}
    assert dead_ids  # non-vacuous

    # update predicate that matches those same docs (and others)
    predicate = F.concat(F.lit(" "), F.col("text"), F.lit(" ")).like("% customer %")
    matched_all = {int(r["doc_id"]) for r in docs.filter(predicate).select("doc_id").collect()}
    overlap = matched_all & dead_ids
    assert overlap  # the trap exists: predicate matches tombstoned docs

    def transform(matched):
        return matched.withColumn("text", F.concat(F.col("text"), F.lit(" zzpatched")))

    manifest, mapping = mutate.update_by_query(
        spark, idx.root, docs, predicate, transform, key_col="doc_id"
    )
    # no tombstoned key may appear in the reindex mapping
    remapped_keys = {int(r["key"]) for r in mapping.collect()}
    assert not (remapped_keys & dead_ids), remapped_keys & dead_ids
    # and searching for the patched marker must only find live-doc updates
    updated = LoadedIndex(spark, idx.root)
    hit_ids = {d for d, _ in _hits(updated.search("zzpatched", k=100))}
    live_matches = matched_all - dead_ids
    mapping_by_key = {int(r["key"]): int(r["doc_id"]) for r in mapping.collect()}
    assert hit_ids == {mapping_by_key[k] for k in live_matches}


def test_update_by_query_empty_match_returns_mapping_shape(spark, docs, tmp_path):
    idx = _build(spark, docs, str(tmp_path / "emptyu"))
    predicate = F.col("text").contains("zz-no-such-token-zz")
    manifest, mapping = mutate.update_by_query(
        spark, idx.root, docs, predicate, lambda m: m, key_col="doc_id"
    )
    assert set(mapping.columns) == {"doc_id", "key"}
    assert mapping.count() == 0


def test_expunge_million_row_tombstone_set(spark, index, docs, tmp_path):
    """Scale guard: a ~1M-id tombstone set (most ids not even indexed, as a
    wide delete-by-query over a trillion-doc corpus would produce for any
    one shard range) must route per (bucket, shard) cogroup — never through
    a driver-side collect/broadcast — and still expunge exactly the indexed
    ids it covers."""
    n_docs = index.manifest.n_docs
    # every even doc_id dies, plus ~1M ids far beyond the corpus
    tomb = (
        spark.range(0, 1_000_000)
        .select((F.col("id") * 2).alias("doc_id"))
    )
    mutate.write_tombstones(index.root, tomb)
    mutate.expunge_deletes(spark, index.root)
    after = LoadedIndex(spark, index.root)
    assert after.manifest.n_docs == (n_docs + 1) // 2
    # survivors only, and scores equal a fresh build over the odd docs
    fresh_root = str(tmp_path / "fresh_million")
    _build(spark, docs.filter(F.col("doc_id") % 2 == 1), fresh_root)
    fresh = LoadedIndex(spark, fresh_root)
    for query, k, mode in QUERIES[:2]:
        a = _hits(after.search(query, k=k, mode=mode, round_to=None))
        b = _hits(fresh.search(query, k=k, mode=mode, round_to=None))
        assert [d for d, _ in a] == [d for d, _ in b], query
        np.testing.assert_allclose(
            [s for _, s in a], [s for _, s in b], rtol=1e-9
        )


@pytest.mark.parametrize("chunk", [None, 7])
def test_merge_stream_matches_per_term_reference(monkeypatch, chunk):
    """The batched merge kernel (no Spark): terms spread over two segments
    with overlapping doc ids and two Arrow batches that split a run. Each
    output row must equal a batch-of-one encode of the reference merge —
    highest segment wins per doc, drop_ids vanish, lists range-split into
    parts of max_postings_per_row — also when the batch is cut into chunks
    of a few postings (chunk=7)."""
    import pandas as pd

    import engine.index
    from engine.codec import encode_postings
    from engine.index import POSTINGS_SCHEMA
    from engine.merge import _merge_stream_fn

    if chunk is not None:
        monkeypatch.setattr(engine.index, "DECODE_CHUNK_POSTINGS", chunk)
    rng = np.random.default_rng(5)
    bs, maxp, avgdl = 4, 9, 21.0
    drop = np.array([3, 17, 40], dtype=np.int64)
    rows, want = [], []
    for tid in range(6):
        merged = {}
        for seg in (0, 1):
            ids = np.sort(rng.choice(60, size=int(rng.integers(1, 25)), replace=False))
            tfs, dls = rng.integers(1, 9, len(ids)), rng.integers(5, 50, len(ids))
            e = encode_postings(ids, tfs, dls, 30.0, bs)
            rows.append((tid, 1, 0, seg, 0, e["df"], e["cf"], e["doc_ids_enc"],
                         e["tfs_enc"], e["dls_enc"], e["skips"], e["block_max"]))
            merged.update(zip(ids.tolist(), zip(tfs.tolist(), dls.tolist())))
        live = sorted(d for d in merged if d not in set(drop.tolist()))
        for p in range(0, len(live), maxp):
            ids = np.array(live[p:p + maxp])
            tfs = np.array([merged[d][0] for d in ids])
            dls = np.array([merged[d][1] for d in ids])
            want.append((tid, p // maxp, encode_postings(ids, tfs, dls, avgdl, bs)))
    pdf = pd.DataFrame(rows, columns=[f.name for f in POSTINGS_SCHEMA.fields])
    fn = _merge_stream_fn(avgdl, bs, maxp, drop_bc=type("B", (), {"value": drop}))
    out = pd.concat(list(fn(iter([pdf.iloc[:5], pdf.iloc[5:]]))), ignore_index=True)
    assert [(r.tid, r.part) for r in out.itertuples()] == [(t, p) for t, p, _ in want]
    for r, (_, _, w) in zip(out.itertuples(), want):
        assert (r.bucket, r.shard, r.seg_id) == (1, 0, 0)
        assert (r.doc_ids_enc, r.tfs_enc, r.dls_enc) == (
            w["doc_ids_enc"], w["tfs_enc"], w["dls_enc"])
        assert list(r.skips) == w["skips"]
        assert (float(r.block_max), r.df, r.cf) == (w["block_max"], w["df"], w["cf"])

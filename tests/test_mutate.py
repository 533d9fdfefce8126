"""Delete-by-query / update-by-query / expunge tests (engine/mutate.py).

Property chain: tombstoned search == search over the surviving corpus with
PRE-delete stats (ES semantics: deleted docs still count in df/avgdl until
merge); expunge == from-scratch build over survivors; update_by_query ==
from-scratch build over the transformed corpus (keys compared, ids differ).
"""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine import mutate
from engine.index import IndexManifest, build_index
from engine.io import read_fixture
from engine.searcher import LoadedIndex
from tests.test_index import assert_scan_stage_plan

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


def _build(spark, docs, root, n_segments=1, hot_df=None, docs_per_shard=128):
    build_index(
        spark, docs, root, n_buckets=4, docs_per_shard=docs_per_shard, n_segments=n_segments,
        hot_df=hot_df, block_size=32,
    )
    return LoadedIndex(spark, root)


@pytest.fixture()
def index(spark, docs, tmp_path):
    return _build(spark, docs, str(tmp_path / "idx"))


def _hits(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def assert_published_only(root):
    """The index writer's commit protocol: no staged (*.tmp) or displaced
    (*.old) table and no manifest.json.tmp is left in the root, and the
    metadata tables have at most n_meta_files (~2M docs per file) data
    files each."""
    left = [e for e in os.listdir(root) if e.endswith((".tmp", ".old"))]
    assert not left, left
    n_meta_files = max(1, IndexManifest.load(root).n_docs // 2_000_000)
    for table in ("term_dict", "doc_stats"):
        files = [f for f in os.listdir(os.path.join(root, table)) if f.endswith(".parquet")]
        assert 1 <= len(files) <= n_meta_files, (table, files)


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
    dead = {r["doc_id"] for r in mutate.load_tombstones(index.spark, index.root).collect()}
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


def _parts_per_term(index):
    """Most posting rows any (shard, tid) of the index holds."""
    return index.postings.groupBy("shard", "tid").count().agg(F.max("count")).first()[0]


@pytest.mark.parametrize(
    "layout",
    [
        pytest.param({}, id="one_segment"),
        # bulk-merged segments with salted hot terms: several part rows per
        # tid, which the expunge merges into one list
        pytest.param({"n_segments": 2, "hot_df": 10}, id="two_segments_hot_parts"),
    ],
)
def test_expunge_equals_fresh_build(spark, docs, tmp_path, layout):
    index = _build(spark, docs, str(tmp_path / "idx"), **layout)
    assert (_parts_per_term(index) > 1) == bool(layout)
    mutate.delete_by_query(index, DELETE_Q, mode="and")
    dead = {r["doc_id"] for r in mutate.load_tombstones(index.spark, index.root).collect()}
    m = mutate.expunge_deletes(spark, index.root)
    expunged = LoadedIndex(spark, index.root)
    assert _parts_per_term(expunged) == 1
    survivors = docs.filter(~F.col("doc_id").isin(list(dead)))
    fresh = _build(spark, survivors, str(tmp_path / "fresh"))
    assert mutate.load_tombstones(expunged.spark, expunged.root) is None
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


def test_writers_leave_only_published_tables(spark, index, docs):
    """build_index, expunge_deletes and update_by_query all publish through
    the one writer: per-table staging is swapped in and cleaned up, and the
    metadata tables are coalesced (compaction: tests/test_streaming.py)."""
    assert_published_only(index.root)
    assert mutate.delete_by_query(index, DELETE_Q, mode="and") > 0
    mutate.expunge_deletes(spark, index.root)
    assert_published_only(index.root)
    predicate = F.col("doc_id") % 7 == 0

    def transform(matched):
        return matched.withColumn("text", F.concat(F.col("text"), F.lit(" zzwriter")))

    mutate.update_by_query(spark, index.root, docs, predicate, transform)
    assert_published_only(index.root)
    assert _hits(LoadedIndex(spark, index.root).search("zzwriter", k=3))


def test_expunge_every_doc_deleted(spark, tmp_path):
    """An index whose every doc is deleted expunges to an empty index that
    still opens and answers searches with no rows."""
    docs = spark.createDataFrame(
        [(0, "common alpha"), (1, "common beta"), (2, "common gamma")], "doc_id long, text string"
    )
    idx = _build(spark, docs, str(tmp_path / "all_dead"))
    assert mutate.delete_by_query(idx, "common") == 3
    m = mutate.expunge_deletes(spark, idx.root)
    saved = IndexManifest.load(idx.root)
    assert (m.n_docs, m.avgdl) == (saved.n_docs, saved.avgdl) == (0, 0.0)
    empty = LoadedIndex(spark, idx.root)
    assert mutate.load_tombstones(empty.spark, empty.root) is None
    assert empty.postings.count() == empty.term_dict.count() == empty.doc_stats.count() == 0
    for q in ("common", "alpha beta"):
        assert _hits(empty.search(q, k=10)) == []
    assert empty.search_many({"q": "common"}, k=10).count() == 0


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
    """The dead set of merge_postings (a DataFrame of doc_id): tombstoned
    ids vanish, others keep their (tf, dl)."""
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
    dead = spark.createDataFrame([(int(d),) for d in drop], "doc_id long")
    out = merge_postings(
        postings, avgdl=40.0, n_buckets=1, docs_per_shard=1 << 20, dead=dead, block_size=8
    ).collect()
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
    dead = {r["doc_id"] for r in mutate.load_tombstones(index.spark, index.root).collect()}
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
    dead = {int(r["doc_id"]) for r in mutate.load_tombstones(index.spark, index.root).collect()}
    # non-vacuous: the tombstones remove hits the queries returned before
    assert any(d in dead for hits in before for d, _ in hits)
    after = answers()
    assert not any(d in dead for hits in after for d, _ in hits)


def test_search_plan_scores_in_scan_stage_with_tombstones(spark, index):
    """A search plan is one scan stage before and after a delete_by_query:
    each scoring task reads its own shard's tombstones, so live deletes add
    no exchange and no cogroup."""
    assert_scan_stage_plan(index.search("table sort merge", k=10))
    assert mutate.delete_by_query(index, DELETE_Q, mode="and") > 0
    assert_scan_stage_plan(index.search("table sort merge", k=10))


def _jobs(spark, run, group: str) -> int:
    """The number of Spark jobs run() submits (a job group around the call;
    the listener bus is drained before the status store is read)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_search_submits_one_spark_job(spark, index):
    """A warm search or search_tree is one Spark job (scan stage + collect)
    and a search_many at most two (its per-qid window adds one exchange),
    with and without live tombstones."""
    from engine.boolquery import Bool, Term

    calls = {
        "search": lambda: index.search("table sort merge", k=10).collect(),
        "must_not": lambda: index.search("window -stream", k=10).collect(),
        "tree": lambda: index.search_tree(
            Bool(should=(Term("table"), Term("sort")), must_not=(Term("merge"),)), k=10
        ).collect(),
        "many": lambda: index.search_many({"a": "table", "b": "sort merge"}, k=10).collect(),
    }

    def counts(phase: str) -> dict[str, int]:
        for run in calls.values():
            run()
        return {name: _jobs(spark, run, f"jobs-{phase}-{name}") for name, run in calls.items()}

    for phase in ("live", "tombstoned"):
        got = counts(phase)
        assert got["many"] <= 2, (phase, got)
        assert {n: c for n, c in got.items() if n != "many"} == dict.fromkeys(
            ("search", "must_not", "tree"), 1
        ), (phase, got)
        if phase == "live":
            assert mutate.delete_by_query(index, DELETE_Q, mode="and") > 0


# session confs that change how the shard files map to scan tasks
_PACKED = {  # every shard file of the index in one scan task
    "spark.sql.files.openCostInBytes": "1",
    "spark.sql.files.maxPartitionBytes": str(1 << 30),
    "spark.sql.files.minPartitionNum": "1",
}
_SPLIT = {  # every shard file cut into several byte-range splits
    "spark.sql.files.openCostInBytes": "1",
    "spark.sql.files.maxPartitionBytes": "2048",
}


@pytest.mark.parametrize("conf", [_PACKED, _SPLIT], ids=["packed", "split"])
def test_shard_task_packing_answers_exactly(spark, docs, tmp_path, conf):
    """Scan tasks holding many small shard files, or a shard file cut into
    byte-range splits, score exactly: WAND == exhaustive == the default
    task layout, search_many == search, and tombstoned docs never hit."""
    root = str(tmp_path / "packed")
    build_index(spark, docs, root, n_buckets=4, docs_per_shard=16, block_size=32)
    idx = LoadedIndex(spark, root)
    n_files = len([e for e in os.listdir(os.path.join(root, "postings")) if e.startswith("shard=")])
    assert n_files > 8
    cases = QUERIES + [("customer order", 10, "or")]
    want = {q: _hits(idx.search(q, k=k, mode=mode)) for q, k, mode in cases}
    old = {key: spark.conf.get(key, None) for key in conf}
    try:
        for key, value in conf.items():
            spark.conf.set(key, value)
        n_tasks = idx._scan.rdd.getNumPartitions()
        assert (n_tasks == 1) if conf is _PACKED else (n_tasks > n_files), n_tasks
        for q, k, mode in cases:
            got = _hits(idx.search(q, k=k, mode=mode))
            assert got == want[q], q
            assert _hits(idx.search(q, k=k, mode=mode, algo="exhaustive")) == got, q
            many = _hits(idx.search_many({"q": q}, k=k, mode=mode))
            assert many == got, q
        assert mutate.delete_by_query(idx, DELETE_Q, mode="and") > 0
        dead = {int(r["doc_id"]) for r in mutate.load_tombstones(idx.spark, idx.root).collect()}
        assert any(d in dead for hits in want.values() for d, _ in hits)
        for q, k, mode in cases:
            hits = _hits(idx.search(q, k=k, mode=mode))
            assert not any(d in dead for d, _ in hits), q
            assert _hits(idx.search(q, k=k, mode=mode, algo="exhaustive")) == hits, q
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


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


def test_expunge_million_row_tombstone_set(spark, docs, tmp_path):
    """Scale guard: a ~1M-id tombstone set (most ids not even indexed, as a
    wide delete-by-query over a trillion-doc corpus would produce for any
    one shard range) must route per (bucket, shard) cogroup — never through
    a driver-side collect/broadcast — and still expunge exactly the indexed
    ids it covers. One shard spans all 2M ids, so every id is a tombstone of
    an indexed shard and all of them reach the merge."""
    index = _build(spark, docs, str(tmp_path / "idx"), docs_per_shard=1 << 21)
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
    """The merge group body (no Spark): terms spread over two segments with
    overlapping doc ids, the group's rows and dead ids in arbitrary order.
    Each output row must equal a batch-of-one encode of the reference merge
    — highest segment wins per doc, dead ids vanish, lists range-split into
    parts of max_postings_per_row — also when the group is cut into chunks
    of a few postings (chunk=7)."""
    import pandas as pd

    import engine.index
    from engine.codec import encode_postings
    from engine.index import POSTINGS_SCHEMA
    from engine.merge import _merge_group_fn

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
    shuffled = pdf.sample(frac=1, random_state=3)
    assert not shuffled.index.is_monotonic_increasing
    out = _merge_group_fn(avgdl, bs, maxp)(shuffled, pd.DataFrame({"doc_id": drop[::-1]}))
    assert [(r.tid, r.part) for r in out.itertuples()] == [(t, p) for t, p, _ in want]
    for r, (_, _, w) in zip(out.itertuples(), want):
        assert (r.bucket, r.shard, r.seg_id) == (1, 0, 0)
        assert (r.doc_ids_enc, r.tfs_enc, r.dls_enc) == (
            w["doc_ids_enc"], w["tfs_enc"], w["dls_enc"])
        assert list(r.skips) == w["skips"]
        assert (float(r.block_max), r.df, r.cf) == (w["block_max"], w["df"], w["cf"])


def _python_stages_over_postings(df) -> int:
    """Python-UDF nodes of df's physical plan whose input reads a stored
    postings table. A cached input is an in-memory scan with no children,
    so its plan is not walked."""

    def walk(node) -> tuple[int, bool]:
        kids = node.children()
        n, reads = 0, False
        for i in range(kids.size()):
            kn, kr = walk(kids.apply(i))
            n, reads = n + kn, reads or kr
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            paths = node.relation().location().rootPaths().mkString(",")
            reads = reads or any(
                os.path.basename(p.rstrip("/")).startswith("postings")
                for p in paths.split(",")
            )
        if reads and any(k in name for k in ("Python", "InPandas", "InArrow")):
            n += 1
        return n, reads

    return walk(df._jdf.queryExecution().sparkPlan())[0]


def test_rewriters_transcode_postings_once(spark, docs, tmp_path, monkeypatch):
    """expunge_deletes and update_by_query each hand publish_index a
    postings frame with exactly ONE Python-UDF stage over stored postings:
    the merge that drops the dead set, with no separate expunge pass in
    front of it. compact() reads no stored postings at all: it builds the
    index from the stored source docs."""
    import engine.index
    from engine.streaming import IncrementalIndexer
    from tests.gen_postings_digest import PAGES_SCHEMA, _recrawl_batches

    index = _build(spark, docs, str(tmp_path / "idx"))
    inc = IncrementalIndexer(str(tmp_path / "stream"), n_buckets=4, block_size=16)
    for i, b in enumerate(_recrawl_batches()):
        inc.process_batch(spark.createDataFrame(b, PAGES_SCHEMA), i)
    # the re-crawls left upsert tombstones: compaction has a dead set
    assert os.path.isdir(os.path.join(inc.root, "tombstones"))

    real = engine.index.publish_index
    stages = []

    def capture(manifest, postings, *args, **kwargs):
        stages.append(_python_stages_over_postings(postings))
        return real(manifest, postings, *args, **kwargs)

    monkeypatch.setattr(engine.index, "publish_index", capture)
    monkeypatch.setattr(mutate, "publish_index", capture)
    inc.compact(spark)
    assert mutate.delete_by_query(index, DELETE_Q, mode="and") > 0
    mutate.expunge_deletes(spark, index.root)
    assert mutate.delete_by_query(LoadedIndex(spark, index.root), "table") > 0
    mutate.update_by_query(
        spark, index.root, docs, F.col("doc_id") % 5 == 0,
        lambda d: d.withColumn("text", F.concat("text", F.lit(" zzonce"))),
    )
    assert stages == [0, 1, 1], stages

"""Index build + index-backed search integration tests (SURVEY.md M2/M3/M4).

Asserts the property chain: compressed-index WAND search == exact SQL scorer
== NumPy oracle; index invariant under segmentation and salting.
"""

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from engine.codec import decode_postings
from engine.corpus import corpus_stats, term_stats, tf_table, tokens, with_tokens
from engine.index import build_index, build_term_dict
from engine.io import read_fixture
from engine.search import exact_search
from engine.searcher import LoadedIndex

QUERIES = [
    ("table", 10, "or"),
    ("dup", 10, "or"),
    ("sort merge join", 10, "and"),
    ("window stream", 10, "or"),
    ("scan -filter", 10, "or"),
    ("customer order", 100, "and"),
    ("the", 5, "or"),
    ("zzznonexistent", 10, "or"),
]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_fixture(spark, sf_dir, "documents").select("doc_id", "text")


@pytest.fixture(scope="module")
def exact(spark, sf_dir):
    docs = read_fixture(spark, sf_dir, "documents")
    dwt = with_tokens(docs).cache()
    tf = tf_table(tokens(dwt)).cache()
    ds = dwt.select("doc_id", "dl").cache()
    ts = term_stats(tf).cache()
    n, avgdl = corpus_stats(ds)
    return tf, ds, ts, n, avgdl


@pytest.fixture(scope="module")
def index(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index") / "idx")
    build_index(
        spark, docs, root, n_buckets=4, docs_per_shard=128, n_segments=1,
        hot_df=None, block_size=32,
    )
    return LoadedIndex(spark, root)


def test_manifest_and_layout(index, exact):
    _, _, _, n, avgdl = exact
    assert index.manifest.n_docs == n
    assert index.manifest.avgdl == pytest.approx(avgdl)
    # df and cf consistent with term_stats
    td = {r["term"]: r for r in index.term_dict.collect()}
    for r in exact[2].collect():
        assert td[r["term"]]["df"] == r["df"]
        assert td[r["term"]]["cf"] == r["cf"]


def test_postings_roundtrip_totals(index, exact):
    tf = exact[0]
    want_postings = tf.count()
    got = 0
    for r in index.postings.collect():
        skips = [tuple(s) for s in r["skips"]]
        ids, tfs, dls = decode_postings(r["doc_ids_enc"], r["tfs_enc"], r["dls_enc"], skips)
        assert len(ids) == r["df"]
        assert int(tfs.sum()) == r["cf"]
        assert np.all(np.diff(ids) > 0)
        got += len(ids)
    assert got == want_postings


@pytest.mark.parametrize("query,k,mode", QUERIES)
@pytest.mark.parametrize("algo", ["wand", "exhaustive"])
def test_index_search_matches_exact(index, exact, query, k, mode, algo):
    tf, ds, ts, n, avgdl = exact
    want = exact_search(tf, ds, ts, n, avgdl, query, k=k, mode=mode, round_to=None).collect()
    got = index.search(query, k=k, mode=mode, algo=algo, round_to=None).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    np.testing.assert_allclose(
        [r["score"] for r in got], [r["score"] for r in want], rtol=1e-9
    )


@pytest.mark.parametrize("bulk", [True, False])
def test_segment_invariance(spark, docs, exact, index, tmp_path_factory, bulk):
    """Index built in 3 segments + merged == single-segment index, on BOTH
    merge paths: bulk (concatenation-by-relabel over disjoint doc ranges)
    and the general decode/merge/encode job."""
    root = str(tmp_path_factory.mktemp(f"index_seg_{bulk}") / "idx")
    build_index(
        spark, docs, root, n_buckets=4, docs_per_shard=128, n_segments=3,
        hot_df=None, block_size=32, bulk_merge=bulk,
    )
    seg_idx = LoadedIndex(spark, root)
    for query, k, mode in QUERIES[:5]:
        a = index.search(query, k=k, mode=mode, round_to=None).collect()
        b = seg_idx.search(query, k=k, mode=mode, round_to=None).collect()
        # rank-identical; scores to float-sum associativity (chunk boundaries
        # differ between layouts, so per-doc partial sums may differ by ULPs)
        assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b], query
        np.testing.assert_allclose(
            [r["score"] for r in a], [r["score"] for r in b], rtol=1e-12
        )


def test_salting_invariance(spark, docs, index, tmp_path_factory):
    """hot-term salting (S_term=4 for df>50 terms) must not change results."""
    root = str(tmp_path_factory.mktemp("index_salt") / "idx")
    build_index(
        spark, docs, root, n_buckets=4, docs_per_shard=128, n_segments=1,
        hot_df=50, n_salts=4, block_size=32,
    )
    salted = LoadedIndex(spark, root)
    for query, k, mode in QUERIES[:5]:
        a = index.search(query, k=k, mode=mode, round_to=None).collect()
        b = salted.search(query, k=k, mode=mode, round_to=None).collect()
        assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b], query
        np.testing.assert_allclose(
            [r["score"] for r in a], [r["score"] for r in b], rtol=1e-12
        )


def test_merge_dedup_latest_segment_wins(spark):
    """A doc re-indexed in a later segment replaces its older posting."""
    from engine.index import encode_segment
    from engine.merge import merge_postings

    rows = [  # (term, doc_id, tf, dl)
        ("a", 1, 2, 10),
        ("a", 2, 1, 10),
    ]
    old = spark.createDataFrame(rows, "term string, doc_id long, tf long, dl long")
    new = spark.createDataFrame(
        [("a", 1, 9, 12)], "term string, doc_id long, tf long, dl long"
    )
    seg0 = encode_segment(old, avgdl=10.0, n_buckets=2, docs_per_shard=100, seg_id=0)
    seg1 = encode_segment(new, avgdl=10.0, n_buckets=2, docs_per_shard=100, seg_id=1)
    merged = merge_postings(
        seg0.unionByName(seg1), avgdl=10.0, n_buckets=2, docs_per_shard=100
    ).collect()
    assert len(merged) == 1
    r = merged[0]
    ids, tfs, dls = decode_postings(
        r["doc_ids_enc"], r["tfs_enc"], r["dls_enc"], [tuple(s) for s in r["skips"]]
    )
    assert list(ids) == [1, 2]
    assert list(tfs) == [9, 1]  # doc 1 took the seg_id=1 values
    assert list(dls) == [12, 10]


def assert_scan_stage_plan(df):
    """A search plan scores in the scan stage: the tid set is pushed to the
    Parquet reader as one `In`, one MapInPandas runs every shard's body, and
    there is no Exchange and no grouped or cogrouped pandas node."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(tid," in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    for node in ("Exchange", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"):
        assert node not in plan, plan


def test_search_plan_scores_in_scan_stage(index):
    """D3: the posting fetch pushes the numeric tid predicate to the parquet
    scan, and shard scoring runs on the scan's own tasks."""
    assert_scan_stage_plan(index.search("table sort merge", k=10))


def _bucket_layout(spark, root):
    """postings/ rewritten bucket-partitioned, the layout before shards."""
    src = os.path.join(root, "postings")
    os.rename(src, src + ".old")
    spark.read.parquet(src + ".old").write.partitionBy("bucket").parquet(src)


def _shard_file(root):
    d = os.path.join(root, "postings", "shard=0")
    return os.path.join(d, next(f for f in os.listdir(d) if f.endswith(".parquet")))


def _two_files(spark, root):
    f = _shard_file(root)
    shutil.copy(f, os.path.join(os.path.dirname(f), "part-copy.parquet"))


def _two_row_groups(spark, root):
    f = _shard_file(root)
    t = pq.read_table(f)
    pq.write_table(t, f, row_group_size=(t.num_rows + 1) // 2)
    assert pq.ParquetFile(f).num_row_groups == 2


def _flat_tombstones(spark, root):
    os.makedirs(os.path.join(root, "tombstones"))
    pq.write_table(pa.table({"doc_id": [1]}), os.path.join(root, "tombstones", "part-0.parquet"))


@pytest.mark.parametrize(
    "corrupt", [_bucket_layout, _two_files, _two_row_groups, _flat_tombstones],
    ids=["bucket_layout", "shard_two_files", "shard_two_row_groups", "flat_tombstones"],
)
def test_open_refuses_other_layouts(spark, index, tmp_path, corrupt):
    """The scan-stage scoring is exact only when a shard is one file of one
    row group and tombstones are per shard: opening anything else raises."""
    root = str(tmp_path / "idx")
    shutil.copytree(index.root, root)
    LoadedIndex(spark, root)  # the copy itself opens
    corrupt(spark, root)
    with pytest.raises(ValueError, match="io.write_postings_shards"):
        LoadedIndex(spark, root)


def test_publish_refuses_a_shard_over_the_row_group_ceiling(spark, index, tmp_path, monkeypatch):
    """A shard whose postings outgrow one row group fails the build before
    any table is swapped in: no staged table is left, and the index the
    build would have replaced still opens and answers as before."""
    import engine.io

    root = str(tmp_path / "idx")
    shutil.copytree(index.root, root)
    want = [tuple(r) for r in LoadedIndex(spark, root).search("table", k=10).collect()]
    # 400 terms in one shard: the Parquet writer checks the row-group size
    # only after its first 100 rows
    docs = spark.range(400).selectExpr("id AS doc_id", "concat('term', id, ' table') AS text")
    monkeypatch.setattr(engine.io, "SHARD_ROW_GROUP_BYTES", 4096)
    with pytest.raises(ValueError, match="io.write_postings_shards"):
        build_index(spark, docs, root, n_buckets=4, docs_per_shard=1 << 20, block_size=32)
    assert not [e for e in os.listdir(root) if e.endswith((".tmp", ".old"))]
    assert [tuple(r) for r in LoadedIndex(spark, root).search("table", k=10).collect()] == want


def test_search_many_matches_single(index):
    """Batched query execution == per-query execution, rank-identical."""
    batch = {f"q{i}": q for i, (q, _, _) in enumerate(QUERIES[:6])}
    got = index.search_many(batch, k=10, mode="or").collect()
    by_qid: dict[str, list] = {}
    for r in got:
        by_qid.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for i, (q, _, _) in enumerate(QUERIES[:6]):
        single = [(r["doc_id"], r["score"]) for r in index.search(q, k=10, mode="or").collect()]
        assert by_qid.get(f"q{i}", []) == single, q


def test_build_offset_doc_ids_multi_segment(spark, sf_dir, tmp_path):
    """Segment assignment must split the ACTUAL id range: offset/sparse
    doc_ids (streaming continuations, caller ids) previously mapped to
    segment numbers >= n_segments and were SILENTLY DROPPED from the index."""
    from engine.index import build_index
    from engine.io import read_fixture
    from engine.searcher import LoadedIndex

    docs = (
        read_fixture(spark, sf_dir, "documents")
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        .limit(200)
    )
    n = docs.count()
    root = str(tmp_path / "offidx")
    m = build_index(
        spark, docs, root, n_buckets=4, docs_per_shard=1 << 20, n_segments=3,
        hot_df=None, block_size=32,
    )
    assert m.n_docs == n
    idx = LoadedIndex(spark, root)
    hits = idx.search("table", k=10, mode="or").collect()
    assert hits, "offset-id index must be searchable"
    assert all(r["doc_id"] >= 100000 for r in hits)


def test_partial_encode_equivalence(spark, docs, exact):
    """Map-side partial posting encode (blobs through the salted exchange)
    must be byte-identical per (bucket, shard, seg_id, part, tid) to the
    raw-pair path — same df/cf/streams/skips/block_max."""
    from engine.corpus import corpus_base, exploded_tf
    from engine.index import detect_hot_terms, encode_segment

    _, _, ts, _, avgdl = exact
    base = corpus_base(docs)
    tf_dl = exploded_tf(base)
    hot = detect_hot_terms(ts, 50)
    kw = dict(
        avgdl=avgdl, n_buckets=4, docs_per_shard=128, seg_id=0, n_salts=4,
        hot_terms=hot, block_size=32, doc_bounds=(0, 10**6),
    )
    key = lambda r: (r["bucket"], r["shard"], r["seg_id"], r["part"], r["tid"])
    da = {key(r): r for r in encode_segment(tf_dl, partial_encode=False, **kw).collect()}
    db = {key(r): r for r in encode_segment(tf_dl, partial_encode=True, **kw).collect()}
    assert set(da) == set(db)
    for k, ra in da.items():
        rb = db[k]
        for c in ("df", "cf", "doc_ids_enc", "tfs_enc", "dls_enc", "block_max"):
            assert ra[c] == rb[c], (k, c)
        assert [tuple(s) for s in ra["skips"]] == [tuple(s) for s in rb["skips"]], k


def test_partial_encode_multi_flush_roundtrip(spark):
    """A tiny max_pairs forces several flushes per partition (many partial
    rows per (group, tid)); the reduce-side expand+merge must still rebuild
    exact postings."""
    import pandas as pd

    from engine.index import (
        PARTIAL_SCHEMA, POSTINGS_SCHEMA, _GROUP_COLS, _partial_encode_fn,
        _partial_merge_fn,
    )
    from engine.codec import decode_postings

    rng = np.random.default_rng(7)
    n = 5000
    pdf = pd.DataFrame(
        {
            "tid": rng.integers(0, 40, n),
            "doc_id": rng.permutation(n * 3)[:n],
            "tf": rng.integers(1, 9, n),
            "dl": rng.integers(10, 300, n),
        }
    ).drop_duplicates(["tid", "doc_id"])
    pdf["bucket"] = (pdf["tid"] % 4).astype("int32")
    pdf["shard"] = (pdf["doc_id"] // 4096).astype("int32")
    pdf["seg_id"] = np.int32(0)
    pdf["part"] = (pdf["doc_id"] % 2).astype("int32")
    pairs = spark.createDataFrame(pdf)
    out = (
        pairs.repartition(8)  # scatter rows of a group across partitions
        .mapInPandas(_partial_encode_fn(max_pairs=100), PARTIAL_SCHEMA)
        .repartition(4, "bucket", "shard", "seg_id", "part")
        .sortWithinPartitions(*_GROUP_COLS)
        .mapInPandas(_partial_merge_fn(avgdl=100.0, block_size=16), POSTINGS_SCHEMA)
    ).collect()
    got = {}
    for r in out:
        ids, tfs, dls = decode_postings(
            r["doc_ids_enc"], r["tfs_enc"], r["dls_enc"], r["skips"]
        )
        got[(r["bucket"], r["shard"], r["seg_id"], r["part"], r["tid"])] = (
            ids.tolist(), tfs.tolist(), dls.tolist(), r["df"], r["cf"]
        )
    exp = pdf.sort_values(["bucket", "shard", "seg_id", "part", "tid", "doc_id"])
    for gk, g in exp.groupby(["bucket", "shard", "seg_id", "part", "tid"]):
        key = tuple(int(x) for x in gk)
        ids, tfs, dls, df_, cf_ = got[key]
        assert ids == g["doc_id"].tolist(), key
        assert tfs == g["tf"].tolist() and dls == g["dl"].tolist(), key
        assert df_ == len(g) and cf_ == int(g["tf"].sum()), key


# ---------------------------------------------------------------------------
# driver-side term-dict seek and the lean query plan


def _spark_lookup(spark, root: str, terms: list[str]) -> dict:
    """The reference seek: a Spark filter over the term_dict table, the tid
    derived in Spark (term_id) from the term."""
    from engine.index import read_index_table, term_id

    td = read_index_table(spark, root, "term_dict")
    return {
        r["term"]: (int(r["df"]), int(r["tid"]))
        for r in td.filter(F.col("term").isin(terms))
        .select("term", "df", term_id(F.col("term")).alias("tid")).collect()
    }


ABSENT = ["zzznonexistent", "", "a" * 300, "étéx", "\U0001f600"]


def test_tid_of_matches_spark_xxhash64(spark, index):
    """The driver's XXH64 twin equals Spark's xxhash64 on the fixture
    vocabulary, every byte length 0-70 (the 32-byte stripes and the 8-, 4-
    and 1-byte tails), multi-byte UTF-8 and the absent-term probes."""
    from engine.index import term_id, tid_of

    vocab = [r["term"] for r in index.term_dict.select("term").collect()]
    lengths = ["".join(chr(33 + (i * 37 + n) % 94) for i in range(n)) for n in range(71)]
    utf8 = ["é" * n for n in range(1, 24)] + ["日本語の検索", "größe", "Ελληνικά", "\U0001f600" * 9]
    strings = vocab + lengths + utf8 + ABSENT
    assert len({len(s.encode()) for s in lengths}) == 71
    frame = spark.createDataFrame([(s,) for s in strings], "term string")
    want = [r[0] for r in frame.select(term_id(F.col("term"))).collect()]
    assert [tid_of(s) for s in strings] == want


def test_term_dict_format(index):
    """The published term_dict holds only (term, df, cf); the sorted key
    columns are delta-encoded by Parquet's v2 writer: term DELTA_BYTE_ARRAY,
    postings tid and doc_stats doc_id DELTA_BINARY_PACKED."""

    def encodings(table: str, column: str) -> set:
        files = [
            os.path.join(d, n)
            for d, _, names in os.walk(os.path.join(index.root, table))
            for n in names if n.endswith(".parquet")
        ]
        assert files, table
        out = set()
        for f in files:
            md = pq.ParquetFile(f).metadata
            i = md.schema.names.index(column)
            out |= {e for g in range(md.num_row_groups) for e in md.row_group(g).column(i).encodings}
        return out

    td = os.path.join(index.root, "term_dict")
    for n in os.listdir(td):
        if n.endswith(".parquet"):
            assert pq.read_schema(os.path.join(td, n)).names == ["term", "df", "cf"]
    assert index.term_dict.columns == ["term", "df", "cf"]
    assert encodings("term_dict", "term") == {"DELTA_BYTE_ARRAY"}
    assert encodings("postings", "tid") == {"DELTA_BINARY_PACKED"}
    assert encodings("doc_stats", "doc_id") == {"DELTA_BINARY_PACKED"}


def test_term_id_collision_still_raises(spark, docs, tmp_path, monkeypatch):
    """With tid no longer stored, the dictionary build still checks that
    no two terms share one: a constant term_id collides every term."""
    from engine import index as index_mod

    ts = spark.createDataFrame([("alpha", 1, 1), ("beta", 2, 3)], "term string, df long, cf long")
    assert build_term_dict(ts).count() == 2
    monkeypatch.setattr(index_mod, "term_id", lambda c: F.lit(7).cast("long"))
    with pytest.raises(RuntimeError, match="collision"):
        build_term_dict(ts)
    root = str(tmp_path / "collide")
    with pytest.raises(RuntimeError, match="collision"):
        build_index(spark, docs.limit(20), root, n_buckets=2, docs_per_shard=64, block_size=8)
    assert not os.path.exists(os.path.join(root, "manifest.json"))


def test_term_dict_with_stored_tid_still_reads(spark, index, tmp_path):
    """An index whose term_dict still carries the tid and bucket columns
    (the earlier layout) seeks and searches exactly as the current one."""
    from engine.index import tid_of

    root = str(tmp_path / "stored_tid")
    shutil.copytree(index.root, root)
    td = os.path.join(root, "term_dict")
    rows = pq.read_table(td).to_pandas()
    shutil.rmtree(td)
    os.mkdir(td)
    rows["tid"] = [tid_of(t) for t in rows["term"]]
    rows["bucket"] = (rows["tid"] % index.manifest.n_buckets).astype("int32")
    rows = rows[["term", "tid", "df", "cf", "bucket"]]
    pq.write_table(pa.Table.from_pandas(rows, preserve_index=False), os.path.join(td, "part-0.parquet"))
    old = LoadedIndex(spark, root)
    assert old.term_dict.columns == ["term", "df", "cf"]
    vocab = rows["term"].tolist()
    terms = vocab[::4] + ABSENT
    assert _seek(spark, root, terms) == _seek(spark, index.root, terms)
    assert _seek(spark, root, terms) == _spark_lookup(spark, root, terms)
    for q, k, mode in QUERIES:
        assert old.search(q, k=k, mode=mode).collect() == index.search(q, k=k, mode=mode).collect()


def test_lookup_submits_no_spark_job(spark, index):
    sc = spark.sparkContext
    group = "lookup-no-job"
    sc.setJobGroup(group, "term-dict seek")
    try:
        found = index._lookup(["zzunseen", "qqunseen", "table", "sort"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(found) == {"table", "sort"}
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_search_py4j_calls_bounded(spark, index):
    """A warm search() plans and collects in a bounded number of py4j
    round trips (91 measured: one SQL-text scan predicate, a sort order
    built once per index, StructType output schemas). Memory-release
    commands are not counted: py4j sends them whenever Python garbage-
    collects a proxy of any earlier JVM object."""
    gc = spark.sparkContext._gateway._gateway_client
    index.search("table sort merge", k=10).collect()
    calls = [0]
    send = gc.send_command

    def counting(command, *a, **kw):
        calls[0] += not command.startswith("m\n")
        return send(command, *a, **kw)

    gc.send_command = counting
    try:
        index.search("window stream join", k=10).collect()
    finally:
        gc.send_command = send
    assert 0 < calls[0] <= 100, calls[0]


def _seek(spark, root: str, terms: list[str]) -> dict:
    """The driver-side seek of a freshly opened index (empty term cache)."""
    return LoadedIndex(spark, root)._lookup(terms)


def test_seek_matches_spark_filter_on_sorted_index(spark, index):
    vocab = [r["term"] for r in index.term_dict.select("term").collect()]
    terms = vocab[::3] + ABSENT
    assert _seek(spark, index.root, terms) == _spark_lookup(spark, index.root, terms)


def test_seek_matches_spark_filter_on_unsorted_row_groups(spark, index, tmp_path):
    """An index written before term_dict was sorted (or by any other writer):
    several small row groups with overlapping term ranges in two files."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = index.term_dict.toPandas().sample(frac=1.0, random_state=3)
    root = str(tmp_path / "old")
    shutil.copytree(index.root, root)
    td = tmp_path / "old" / "term_dict"
    shutil.rmtree(td)
    td.mkdir()
    half = len(rows) // 2
    for i, part in enumerate((rows.iloc[:half], rows.iloc[half:])):
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            td / f"part-{i:05d}.parquet", row_group_size=7,
        )
    assert all(pq.ParquetFile(f).num_row_groups > 2 for f in td.iterdir())
    vocab = rows["term"].tolist()
    for terms in (vocab, vocab[::5] + ABSENT, ABSENT, vocab[7:8]):
        assert _seek(spark, root, terms) == _spark_lookup(spark, root, terms)


@pytest.mark.parametrize("analyzer", ["french", "german"])
def test_seek_matches_spark_filter_non_ascii(spark, tmp_path, analyzer):
    texts = [
        "les élèves à la café über früh größe straße naïve",
        "日本語 Ελληνικά ça où déjà vu",
        "tables chevaux spärk bücher lehrerinnen häuser",
        "plain ascii words only here",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    root = str(tmp_path / analyzer)
    build_index(spark, docs, root, n_buckets=2, docs_per_shard=2, block_size=8,
                analyzer=analyzer)
    idx = LoadedIndex(spark, root)
    vocab = [r["term"] for r in idx.term_dict.select("term").collect()]
    assert any(not t.isascii() for t in vocab)
    terms = vocab + ABSENT + ["ça", "größ", "日本"]
    assert idx._lookup(terms) == _spark_lookup(spark, root, terms)
    assert idx.search(" ".join(texts[1:2]), k=3).collect()


def test_manifest_root_is_the_directory_read(spark, docs, tmp_path):
    """An index built in one directory and renamed (a staged publish) loads
    with its new root, not the dead staging path."""
    import os

    from engine.index import IndexManifest

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, docs.limit(40), a, n_buckets=2, docs_per_shard=64, block_size=8)
    os.rename(a, b)
    assert IndexManifest.load(b).root == b
    assert LoadedIndex(spark, b).search("table", k=3).collect()


def test_range_partitioned_term_dict(spark, docs, tmp_path, monkeypatch):
    """At web scale term_dict spans several files: each holds one sorted term
    range, and the seek still equals the Spark filter."""
    import os

    from engine import index as index_mod
    from tests.test_postings_digest import term_dict_layout_faults

    monkeypatch.setattr(index_mod, "META_FILE_DOCS", 20)
    root = str(tmp_path / "ranged")
    m = build_index(spark, docs, root, n_buckets=4, docs_per_shard=128, block_size=32)
    assert m.n_docs // 20 > 1
    files = [n for n in os.listdir(os.path.join(root, "term_dict")) if n.endswith(".parquet")]
    assert len(files) > 1
    assert term_dict_layout_faults(root) == []
    idx = LoadedIndex(spark, root)
    vocab = [r["term"] for r in idx.term_dict.select("term").collect()]
    for terms in (vocab[::2] + ABSENT, vocab[-1:], ABSENT):
        assert _seek(spark, root, terms) == _spark_lookup(spark, root, terms)

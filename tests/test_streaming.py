"""§2.J streaming ingest: the incremental (NRT-style) index whose compacted
form must score identically to a from-scratch batch build over the same
corpus."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from engine.pages import generate_pages
from engine.streaming import IncrementalIndexer
from tests.test_mutate import assert_published_only

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _write_pages_files(pdf, path, n_files):
    """Split a pandas pages frame into n parquet files (one per micro-batch
    when maxFilesPerTrigger=1)."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        chunk = table.slice(i * step, step)
        pq.write_table(
            chunk,
            os.path.join(path, f"pages-{i:03d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream_pages"))
    # distinct urls per file: these tests pin the re-crawl-free baseline;
    # cross-batch upsert-by-url has its own equivalence test below
    # (test_cross_batch_recrawl_upsert_matches_batch)
    pdf = generate_pages(120, seed=11)
    pdf = pdf.drop_duplicates(subset=["url"], keep="last").reset_index(drop=True)
    _write_pages_files(pdf, base, n_files=3)
    return base


def test_incremental_index_matches_batch_build(spark, pages_dir, tmp_path):
    """NRT path: 3 micro-batches → delta segments → compact == batch build.

    doc_ids differ between the two paths only if batch boundaries reorder
    urls; the incremental indexer assigns per-batch dense ids, so we compare
    by url-identified text rank: top-k (url, score) must match exactly."""
    from engine.index import build_index
    from engine.refine import refine_pages
    from engine.searcher import LoadedIndex

    root = str(tmp_path / "inc")
    idx = IncrementalIndexer(root, n_buckets=4, block_size=32)
    pages = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet")
        .option("maxFilesPerTrigger", "1").load(pages_dir)
    )
    q = idx.writer(pages).start()
    q.awaitTermination(240)
    st = idx._load_state()
    assert len(st["batches"]) == 3, st
    compacted = idx.compact(spark)
    assert_published_only(compacted)
    inc = LoadedIndex(spark, compacted)

    batch_root = str(tmp_path / "batch")
    pages = spark.read.parquet(pages_dir)
    docs = refine_pages(pages).select("doc_id", "url", "text")
    build_index(spark, docs.select("doc_id", "text"), batch_root, n_buckets=4, block_size=32)
    bat = LoadedIndex(spark, batch_root)

    assert inc.manifest.n_docs == bat.manifest.n_docs
    assert abs(inc.manifest.avgdl - bat.manifest.avgdl) < 1e-9

    for query in ["table scan", "merge join order", "the"]:
        a = inc.search(query, k=10).collect()
        b = bat.search(query, k=10).collect()
        scores_a = [r["score"] for r in a]
        scores_b = [r["score"] for r in b]
        assert scores_a == scores_b, (query, scores_a, scores_b)


def test_incremental_batch_replay_is_idempotent(spark, pages_dir, tmp_path):
    root = str(tmp_path / "inc2")
    idx = IncrementalIndexer(root, n_buckets=4, block_size=32)
    pages = spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(pages_dir)
    q = idx.writer(pages).start()
    q.awaitTermination(240)
    st1 = idx._load_state()
    # simulate a foreachBatch redelivery of the last batch
    batch = spark.read.parquet(pages_dir)
    idx.process_batch(batch, st1["batches"][-1])
    st2 = idx._load_state()
    assert st1 == st2


def test_cross_batch_recrawl_upsert_matches_batch(spark, tmp_path):
    """J5 latest-wins upsert (VERDICT r04 #4): a url re-crawled in a LATER
    micro-batch supersedes its earlier live doc — including a re-crawl
    arriving TWO batches late, a two-hop supersede chain, and a stale
    out-of-order arrival that must be dropped. compact() output is value-
    identical to a batch build over the latest crawl of every url."""
    import datetime as dt

    import pandas as pd

    from engine.index import build_index
    from engine.pages import _TEMPLATE, generate_pages
    from engine.refine import refine_pages
    from engine.searcher import LoadedIndex

    def page(url, ts, text):
        return {
            "url": url, "warc_ts": ts,
            "html": _TEMPLATE.format(page=0, text=text).encode(),
            "text": text, "lang": "en",
        }

    t0 = dt.datetime(2024, 3, 1)
    day = dt.timedelta(days=1)
    bg = generate_pages(45, seed=23).drop_duplicates(
        subset=["url"], keep="last"
    ).reset_index(drop=True)
    f0 = pd.concat([bg.iloc[:15], pd.DataFrame([
        page("https://up.test/a", t0, "alpha beta zzorig"),
        page("https://up.test/b", t0, "alpha gamma zzfirst"),
    ])], ignore_index=True)
    f1 = pd.concat([bg.iloc[15:30], pd.DataFrame([
        page("https://up.test/b", t0 + day, "alpha gamma zzsecond"),
        page("https://up.test/c", t0, "delta zzkeep"),
    ])], ignore_index=True)
    f2 = pd.concat([bg.iloc[30:], pd.DataFrame([
        # re-crawl of /a arriving 2 batches late — must supersede zzorig
        page("https://up.test/a", t0 + 3 * day, "alpha beta zzlate"),
        # second hop of the /b chain — supersedes zzsecond
        page("https://up.test/b", t0 + 2 * day, "alpha gamma zzthird"),
        # STALE out-of-order arrival for /c (older ts) — must be dropped
        page("https://up.test/c", t0 - 3 * day, "delta zzstale"),
    ])], ignore_index=True)

    pages_path = str(tmp_path / "up_pages")
    os.makedirs(pages_path)
    for i, f in enumerate((f0, f1, f2)):
        pq.write_table(
            pa.Table.from_pandas(f, preserve_index=False),
            os.path.join(pages_path, f"pages-{i:03d}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )

    root = str(tmp_path / "up_inc")
    idx = IncrementalIndexer(root, n_buckets=4, block_size=32)
    pages = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet")
        .option("maxFilesPerTrigger", "1").load(pages_path)
    )
    q = idx.writer(pages).start()
    q.awaitTermination(240)
    assert len(idx._load_state()["batches"]) == 3
    inc = LoadedIndex(spark, idx.compact(spark))

    # superseded / stale texts are gone; the latest crawls are live
    for tok, n in [("zzorig", 0), ("zzfirst", 0), ("zzsecond", 0),
                   ("zzstale", 0), ("zzlate", 1), ("zzthird", 1), ("zzkeep", 1)]:
        assert len(inc.search(tok, k=5).collect()) == n, tok

    # full value-identity with a batch build over the same corpus
    batch_root = str(tmp_path / "up_batch")
    allp = spark.createDataFrame(pd.concat([f0, f1, f2], ignore_index=True))
    docs = refine_pages(allp).select("doc_id", "text")
    build_index(spark, docs, batch_root, n_buckets=4, block_size=32)
    bat = LoadedIndex(spark, batch_root)
    assert inc.manifest.n_docs == bat.manifest.n_docs
    assert abs(inc.manifest.avgdl - bat.manifest.avgdl) < 1e-9
    for query in ["alpha beta", "delta", "the table"]:
        a = [r["score"] for r in inc.search(query, k=10).collect()]
        b = [r["score"] for r in bat.search(query, k=10).collect()]
        assert a == b, (query, a, b)


def test_replay_after_crash_before_commit_matches_clean_run(spark, tmp_path):
    """A crash after process_batch wrote source/batch=1 but before it
    committed state.json: the replayed batch must not read that uncommitted
    table as a prior batch (every row would lose to itself), so the
    compacted index equals a clean run's."""
    import shutil

    from engine.searcher import LoadedIndex
    from tests.gen_postings_digest import _recrawl_batches

    b0, b1 = (spark.createDataFrame(b, PAGES_SCHEMA) for b in _recrawl_batches())

    def run(name: str, crash: bool) -> LoadedIndex:
        idx = IncrementalIndexer(str(tmp_path / name), n_buckets=4, block_size=32)
        idx.process_batch(b0, 0)
        if crash:
            saved = str(tmp_path / "state-before-batch-1.json")
            shutil.copy(idx._state_path, saved)
            idx.process_batch(b1, 1)
            shutil.copy(saved, idx._state_path)
            assert os.path.isdir(os.path.join(idx.root, "source", "batch=1"))
        idx.process_batch(b1, 1)
        return LoadedIndex(spark, idx.compact(spark))

    clean, replayed = run("clean", crash=False), run("replayed", crash=True)
    assert clean.manifest.n_docs == 150  # every url once, its latest crawl
    assert replayed.manifest.n_docs == clean.manifest.n_docs
    for query in ["w014 join", "fast table", "the"]:
        a = [tuple(r) for r in replayed.search(query, k=20).collect()]
        b = [tuple(r) for r in clean.search(query, k=20).collect()]
        assert a == b and a, (query, a, b)


def test_compact_refuses_root_of_older_layout(spark, tmp_path):
    """A committed batch without stored source docs (a batch written by the
    older per-batch postings layout, postings_delta/) fails compact() and
    later batches loudly; neither indexes the batches that do have source."""
    from tests.gen_postings_digest import _recrawl_batches

    b0, b1 = (spark.createDataFrame(b, PAGES_SCHEMA) for b in _recrawl_batches())
    idx = IncrementalIndexer(str(tmp_path / "mixed"), n_buckets=4, block_size=32)
    idx.process_batch(b0, 0)
    os.makedirs(os.path.join(idx.root, "postings_delta", "batch=1"))
    st = idx._load_state()
    st["batches"].append(1)
    idx._save_state(st)
    with pytest.raises(RuntimeError, match="batch=1"):
        idx.compact(spark)
    assert not os.path.exists(os.path.join(idx.root, "compacted"))
    with pytest.raises(RuntimeError, match="batch=1"):
        idx.process_batch(b1, 2)
    assert idx._load_state() == st

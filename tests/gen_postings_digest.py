"""Byte-identity golden for the index write path.

Runs every kernel that writes posting rows — the index build (raw-pair and
map-side-partial encoders, bulk and decode/re-encode segment merge), a
part-splitting merge with a drop set, streaming compaction with a cross-batch
re-crawl, delete_by_query + expunge_deletes, and delete_by_query +
update_by_query — over small seeded corpora, and records a sha256 (first 64
bits) per (tid, shard, part) of the row's (doc_ids_enc, tfs_enc, dls_enc,
skips, block_max, df, cf).

Every case that publishes an index also gets a `<case>.tables` entry: a
sha256 of the sorted term_dict rows (term, tid, df, cf, bucket), tid and
bucket derived from the term as the engine derives them, one of the
sorted doc_stats rows (doc_id, dl), and the manifest fields other than
`root`, with avgdl as its repr (so the float's bits are pinned). The update
runs on the build_index index, so its entries are `build_index.update_by_query`
and `build_index.update_by_query.tables`.

Write the golden with `python tests/gen_postings_digest.py` and commit
tests/golden/postings_digest.json; tests/test_postings_digest.py asserts it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import sys
import tempfile

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "golden", "postings_digest.json"
)
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _row_digest(r) -> str:
    skips = [tuple(s) for s in (r["skips"] or [])]
    h = hashlib.sha256()
    for part in (r["doc_ids_enc"], r["tfs_enc"], r["dls_enc"]):
        h.update(len(part).to_bytes(8, "little"))
        h.update(bytes(part))
    h.update(repr((skips, r["block_max"], r["df"], r["cf"])).encode())
    return h.hexdigest()[:16]


def postings_digest(postings) -> dict[str, str]:
    """sha256 per (tid, shard, part) of a postings DataFrame."""
    out = {}
    for r in postings.collect():
        key = f"{r['tid']}:{r['shard']}:{r['part']}"
        if key in out:
            raise AssertionError(f"duplicate posting row {key}")
        out[key] = _row_digest(r)
    return dict(sorted(out.items()))


def _rows_digest(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()[:16]


def table_digests(spark, root: str) -> dict[str, str]:
    """Digests of a published index's term_dict and doc_stats rows, and its
    manifest fields (root excluded, avgdl as repr)."""
    from pyspark.sql import functions as F

    from engine.index import IndexManifest, term_id

    def rows(name, cols):
        return spark.read.parquet(os.path.join(root, name)).select(*cols).collect()

    m = IndexManifest.load(root).__dict__
    fields = {k: (repr(v) if k == "avgdl" else v) for k, v in m.items() if k != "root"}
    # term_dict stores no tid or bucket: both are derived from the term, so
    # the digest covers the same (term, tid, df, cf, bucket) rows as ever
    tid = term_id(F.col("term"))
    derived = [
        "term", tid.alias("tid"), "df", "cf",
        F.pmod(tid, F.lit(m["n_buckets"])).cast("int").alias("bucket"),
    ]
    return {
        "term_dict": _rows_digest(rows("term_dict", derived)),
        "doc_stats": _rows_digest(rows("doc_stats", ["doc_id", "dl"])),
        "manifest": json.dumps(fields, sort_keys=True),
    }


def _recrawl_batches(seed: int = 7) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Two page batches; the second re-crawls 12 urls of the first with
    newer text (another page's), which compact() must supersede."""
    from engine.pages import generate_pages

    pg = generate_pages(150, seed=seed).drop_duplicates(subset=["url"], keep="last")
    pg = pg.reset_index(drop=True)
    b0, b1 = pg.iloc[:90].copy(), pg.iloc[90:].copy()
    recrawl = pg.iloc[:12].copy()
    recrawl["warc_ts"] = recrawl["warc_ts"] + dt.timedelta(days=1)
    recrawl["text"] = pg["text"].iloc[60:72].to_numpy()
    recrawl["html"] = pg["html"].iloc[60:72].to_numpy()
    return b0, pd.concat([b1, recrawl], ignore_index=True)


def digests(spark, work: str, on_publish=None) -> dict[str, dict[str, str]]:
    """Every case's digests; on_publish(case, root), when given, is called
    on each published index before a later case rewrites it."""
    from pyspark.sql import functions as F

    from engine import mutate
    from engine.index import IndexManifest, build_index
    from engine.merge import merge_postings
    from engine.pages import pages_df
    from engine.refine import refine_pages
    from engine.searcher import LoadedIndex
    from engine.streaming import IncrementalIndexer

    def read(root):
        return spark.read.parquet(os.path.join(root, "postings"))

    out = {}

    def tables(case: str, root: str) -> None:
        if on_publish is not None:
            on_publish(case, root)
        out[f"{case}.tables"] = table_digests(spark, root)

    docs = refine_pages(pages_df(spark, 400, seed=31)).select("doc_id", "text").cache()

    # raw-pair encoder + bulk merge, multi-block lists, several shards
    bulk = os.path.join(work, "bulk")
    m = build_index(spark, docs, bulk, n_buckets=4, docs_per_shard=128, block_size=16)
    out["build_index"] = postings_digest(read(bulk))
    tables("build_index", bulk)

    # map-side partial encoder + decode/re-encode merge of 2 segments with
    # hot-term salting
    merged = os.path.join(work, "merged")
    build_index(
        spark, docs, merged, n_buckets=4, docs_per_shard=128, n_segments=2,
        hot_df=40, n_salts=3, block_size=8, bulk_merge=False, partial_encode=True,
    )
    out["build_index_merge"] = postings_digest(read(merged))
    tables("build_index_merge", merged)

    # merge that splits long lists into parts and drops every 7th doc
    dead = spark.range(0, m.n_docs, 7).withColumnRenamed("id", "doc_id")
    out["merge_split_drop"] = postings_digest(
        merge_postings(read(bulk), m.avgdl, m.n_buckets, m.docs_per_shard, dead=dead,
                       block_size=16, max_postings_per_row=40)
    )

    # delete_by_query, then update_by_query on the same index: the update
    # folds the prior tombstones in, reindexes every 5th doc under fresh ids
    # (a new shard) and adds one new term
    assert mutate.delete_by_query(LoadedIndex(spark, bulk), "w020") > 0
    mutate.update_by_query(
        spark, bulk, docs, F.col("doc_id") % 5 == 0,
        lambda d: d.withColumn("text", F.concat("text", F.lit(" zzupdated"))),
    )
    out["build_index.update_by_query"] = postings_digest(read(bulk))
    tables("build_index.update_by_query", bulk)
    docs.unpersist()

    # streaming: 2 micro-batches with a re-crawl, then compact()
    b0, b1 = _recrawl_batches()
    inc = IncrementalIndexer(os.path.join(work, "stream"), n_buckets=4, block_size=16)
    for i, b in enumerate((b0, b1)):
        inc.process_batch(spark.createDataFrame(b, PAGES_SCHEMA), i)
    compacted = inc.compact(spark)
    out["compact"] = postings_digest(read(compacted))
    tables("compact", compacted)

    # delete_by_query + expunge_deletes on the compacted index
    n = mutate.delete_by_query(LoadedIndex(spark, compacted), "w010")
    assert n > 0, "delete_by_query matched nothing"
    mutate.expunge_deletes(spark, compacted)
    assert IndexManifest.load(compacted).n_docs > 0
    out["expunge"] = postings_digest(read(compacted))
    tables("expunge", compacted)
    return out


def main() -> None:
    from engine.session import get_spark

    spark = get_spark("postings-digest", cpus=8, shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as work:
        got = digests(spark, work)
    spark.stop()
    with open(GOLDEN, "w") as f:
        json.dump(got, f, indent=0, sort_keys=True)
        f.write("\n")
    print(GOLDEN, {k: len(v) for k, v in got.items()})


if __name__ == "__main__":
    main()

"""Delete-by-query / update-by-query / expunge-deletes — the index mutation
surface (ES `_delete_by_query`, `_update_by_query`, `_forcemerge
?only_expunge_deletes` [public ES docs]; SURVEY.md §2.A5's mutation half).

The ES/Lucene model [public]: a delete only MARKS the doc dead in a
per-segment live-docs bitset; searches skip dead docs immediately; a later
segment merge drops them physically. An update is delete + reindex under a
fresh internal doc id. The Spark-first re-expression:

* tombstones are per-shard delete marks (Lucene's live docs, inverted):
  `<index>/tombstones/shard=<s>/`, appended by `delete_by_query`, read by
  each search's scoring task for its own shard (engine/searcher.py — the
  dead set never goes through the driver), folded away by `expunge_deletes`;
* `expunge_deletes` is one segment merge (engine/merge.py merge_postings)
  with the tombstones as its dead set: the merge routes dead ids to posting
  rows by a (bucket, shard) COGROUP, so the dead set is NEVER materialized
  on the driver (a delete_by_query("lang:xx") over a trillion-doc corpus
  tombstones billions of ids; any collect()/broadcast of that set is a
  driver OOM). Block-max metadata is recomputed with the post-delete avgdl
  (a smaller avgdl RAISES per-posting impacts, so stale maxima would
  under-bound and break WAND's pruning soundness), and the part rows of a
  term are merged into one list on the way;
* `update_by_query` tombstones the matched docs and reindexes their
  transformed text as a NEW segment under fresh doc_ids in fresh shards;
  one merge of the old postings with that segment, with the matched and
  prior tombstones as the dead set, rewrites every posting once — the
  result is value-identical to a fresh build over the transformed corpus
  (tests/test_mutate.py pins this equivalence).

merge_postings is the only code that decodes and re-encodes stored
postings; the match scan of delete/update-by-query only decodes doc ids
(codec.decode_rows over a whole batch of posting rows per call). Neither
writer lays out files itself: the merged postings, the surviving doc_stats
and the term strings go to index.publish_index — the writer build_index and
streaming compaction use — which re-aggregates df/cf from the postings it
just wrote (terms whose last posting died drop out), checks the dictionary
for tid collisions, swaps each table in and writes the manifest last.
"""

from __future__ import annotations

import dataclasses
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import decode_rows
from .corpus import corpus_stats
from .index import TOMBSTONE_SCHEMA, IndexManifest, publish_index, read_index_table
from .merge import merge_postings
from .searcher import LoadedIndex


# ---------------------------------------------------------------------------
# matching (the "query" half of delete/update-by-query)


def _shard_match_fn(tids: list[int], neg_tids: list[int], mode: str):
    """Per-shard body: one shard's posting rows → matching doc_ids.
    No scoring, no heap, no k — a pure posting-list union/intersection, so
    delete-by-query never pays top-k machinery for an unbounded match set.
    Every row's doc stream decodes in ONE batched call (codec.decode_rows,
    doc ids only)."""

    def fn(pdf: pd.DataFrame, not_ids=None) -> pd.DataFrame:
        tid_a = pdf["tid"].to_numpy()
        ids_all, _, _, counts = decode_rows(
            pdf["doc_ids_enc"].to_numpy(), pdf["skips"].to_numpy()
        )
        owner = np.repeat(tid_a, counts)
        have = set(tid_a.tolist())

        def ids_of(t: int) -> np.ndarray | None:
            return ids_all[owner == t] if t in have else None

        present = [p for p in map(ids_of, tids) if p is not None]
        if not present or (mode == "and" and len(present) < len(tids)):
            ids = np.empty(0, np.int64)
        elif mode == "and":
            ids = present[0]
            for p in present[1:]:
                ids = np.intersect1d(ids, p, assume_unique=True)
        else:
            ids = np.unique(np.concatenate(present))
        for n_ids in [ids_of(t) for t in neg_tids] + [not_ids]:
            if n_ids is not None:
                ids = np.setdiff1d(ids, n_ids, assume_unique=True)
        return pd.DataFrame({"doc_id": ids})

    return fn


def match_doc_ids(index: LoadedIndex, query: str, mode: str = "or") -> DataFrame:
    """All live doc_ids matching `query` → DataFrame(doc_id). Planned like
    a ranked search (the manifest's analyzer, one term-dict seek) and run
    by the searcher's per-shard pass, which hands each shard its live docs;
    per shard the UDF unions/intersects decoded id lists."""
    (q,), found = index._parse([query])
    spec = index._flat_spec("", q, found, 0, mode)
    if spec is None:
        return index.spark.createDataFrame([], TOMBSTONE_SCHEMA)
    fn = _shard_match_fn(list(spec.pos.values()), list(spec.neg.values()), mode)
    return index._shard_frame([spec], fn, TOMBSTONE_SCHEMA)


# ---------------------------------------------------------------------------
# tombstones


def tombstone_path(root: str) -> str:
    return os.path.join(root, "tombstones")


def write_tombstones(root: str, doc_ids: DataFrame) -> None:
    """Append delete marks to `tombstones/shard=<s>/`, one file per shard
    and call. Readers union and distinct."""
    shard = (F.col("doc_id") / IndexManifest.load(root).docs_per_shard).cast("int")
    doc_ids.select(F.col("doc_id").cast("long").alias("doc_id"), shard.alias("shard")).repartition(
        "shard"
    ).write.mode("append").partitionBy("shard").parquet(tombstone_path(root))


def load_tombstones(spark: SparkSession, root: str) -> DataFrame | None:
    if not os.path.isdir(tombstone_path(root)):
        return None
    return read_index_table(spark, root, "tombstones").distinct()


def delete_by_query(index: LoadedIndex, query: str, mode: str = "or") -> int:
    """ES _delete_by_query [public]: mark every live match deleted; every
    search's scoring task skips them from then on; expunge_deletes folds
    them into the postings. Returns the number of newly tombstoned docs."""
    matched = match_doc_ids(index, query, mode).cache()
    n = matched.count()
    if n:
        write_tombstones(index.root, matched)
    matched.unpersist()
    return n


# ---------------------------------------------------------------------------
# expunge


def expunge_deletes(spark: SparkSession, root: str) -> IndexManifest:
    """Physically drop tombstoned docs from the postings and refresh every
    corpus statistic (ES _forcemerge?only_expunge_deletes [public]). After
    this, scores equal a from-scratch build over the surviving corpus."""
    manifest = IndexManifest.load(root)
    tomb = load_tombstones(spark, root)
    if tomb is None:
        return manifest
    if tomb.limit(1).count() == 0:
        shutil.rmtree(tombstone_path(root))
        return manifest

    ds = read_index_table(spark, root, "doc_stats").join(tomb, "doc_id", "left_anti")
    n_docs, avgdl = corpus_stats(ds)
    postings = merge_postings(
        read_index_table(spark, root, "postings"), avgdl, manifest.n_buckets,
        manifest.docs_per_shard, dead=tomb, block_size=manifest.block_size,
    )
    manifest = publish_index(
        dataclasses.replace(manifest, root=root, n_docs=n_docs, avgdl=avgdl),
        postings, ds, terms=read_index_table(spark, root, "term_dict"),
    )
    shutil.rmtree(tombstone_path(root))
    return manifest


# ---------------------------------------------------------------------------
# update-by-query


def update_by_query(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    predicate,
    transform,
    key_col: str = "doc_id",
) -> tuple[IndexManifest, DataFrame]:
    """ES _update_by_query [public]: delete + reindex each matched doc under
    a FRESH internal doc_id (matching ES, where an update writes a new
    internal doc id and the live-docs bitset kills the old one — a plain
    seg_id upsert would leave the old doc's stale terms searchable), while
    the external identity (`key_col`: the ES _id analog — a url, a user id,
    or the original doc_id) stays stable.

    docs: the indexed corpus (doc_id, <key_col>, text). predicate: Column
    filter selecting docs to update. transform: fn(DataFrame) -> DataFrame
    mapping the matched docs to their new `text` (key preserved).

    One segment merge folds the reindexed delta into the old postings and
    drops the dead ids (routed per (bucket, shard) cogroup, never through
    the driver) — the result is value-identical to a from-scratch build
    over the transformed corpus and needs no separate expunge. Returns
    (manifest, mapping DataFrame(doc_id, key)) — search hits join back to
    stable keys via it.
    """
    from .corpus import corpus_base, exploded_tf
    from .index import encode_segment
    from .refine import assign_doc_ids

    manifest = IndexManifest.load(root)
    matched = docs.filter(predicate)
    # ES _update_by_query only processes LIVE docs: a doc already tombstoned
    # by delete_by_query must not be resurrected just because the predicate
    # matches it — exclude prior tombstones from the reindex set (anti-join,
    # never an isin(...) literal: a billion-id predicate explodes plan size).
    # GC snapshots left by PREVIOUS passes (ADVICE r04: they were never
    # deleted, so repeated updates leaked disk). A snapshot only has to
    # outlive the mapping returned by ITS OWN pass — by the time the next
    # update runs, that mapping is consumed (and this pass is about to
    # rewrite the very segments its lineage reads anyway).
    snap_root = os.path.join(root, "_dead_snapshots")
    if os.path.isdir(snap_root):
        shutil.rmtree(snap_root, ignore_errors=True)
    prior = load_tombstones(spark, root)
    if prior is not None:
        # SNAPSHOT the prior tombstones (distributed parquet write, never a
        # driver collect — billions of tombstones must not transit the
        # driver): this pass deletes the tombstone dir below, and both the
        # merge and the returned mapping's lineage must survive that
        # deletion.
        import uuid

        snap = os.path.join(snap_root, uuid.uuid4().hex)
        prior.write.mode("overwrite").parquet(snap)
        prior = spark.read.parquet(snap)
        matched = matched.join(prior, "doc_id", "left_anti")
    # cache the id set (distributed, spillable) — it feeds the stats
    # rebuild, the merge and the returned mapping; never collected
    dead = matched.select("doc_id").cache()
    # fold any pre-existing delete_by_query tombstones into the same pass —
    # it clears the tombstone dir, so it must expunge them too
    all_dead = (
        dead if prior is None
        else dead.unionByName(prior.select("doc_id")).distinct()
    )
    if all_dead.limit(1).count() == 0:
        dead.unpersist()  # early return must not leak the cached id set
        # consistent (doc_id, key) mapping shape on the empty path too
        return manifest, docs.select(
            "doc_id", F.col(key_col).alias("key")
        ).limit(0)

    # fresh ids in fresh shards — the "new segment" of the ES model
    old_ds = read_index_table(spark, root, "doc_stats")
    max_id = int(old_ds.agg(F.max("doc_id")).collect()[0][0])
    offset = ((max_id // manifest.docs_per_shard) + 1) * manifest.docs_per_shard
    new_docs = assign_doc_ids(
        transform(matched).select(F.col(key_col).alias("key"), "text"),
        order_col="key",
    ).withColumn("doc_id", F.col("doc_id") + F.lit(offset))

    base = corpus_base(new_docs.select("doc_id", "text")).cache()
    # post-update global stats: survivors + the reindexed docs
    ds = old_ds.join(all_dead, "doc_id", "left_anti").unionByName(
        base.select("doc_id", "dl")
    )
    n_docs, avgdl = corpus_stats(ds)

    tf_delta = exploded_tf(base)
    delta = encode_segment(
        tf_delta,
        avgdl,
        manifest.n_buckets,
        manifest.docs_per_shard,
        seg_id=manifest.n_segments,
        block_size=manifest.block_size,
    )
    # one segment merge folds the reindexed delta into the old postings and
    # drops every dead id on the way (routed per (bucket, shard) cogroup,
    # never through the driver), re-encoding under the post-update avgdl
    merged = merge_postings(
        read_index_table(spark, root, "postings").unionByName(delta), avgdl,
        manifest.n_buckets, manifest.docs_per_shard, dead=all_dead,
        block_size=manifest.block_size,
    )
    # term strings: old dictionary ∪ terms the transform introduced
    terms = (
        read_index_table(spark, root, "term_dict").select("term")
        .unionByName(tf_delta.select("term"))
        .distinct()
    )
    manifest = publish_index(
        dataclasses.replace(manifest, root=root, n_docs=n_docs, avgdl=avgdl, n_segments=1),
        merged, ds, terms=terms,
    )
    if os.path.isdir(tombstone_path(root)):
        shutil.rmtree(tombstone_path(root))
    base.unpersist()
    dead.unpersist()

    updated = (
        docs.join(all_dead, "doc_id", "left_anti")
        .select("doc_id", F.col(key_col).alias("key"))
        .unionByName(new_docs.select("doc_id", "key"))
    )
    return manifest, updated

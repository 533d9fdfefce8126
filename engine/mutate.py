"""Delete-by-query / update-by-query / expunge-deletes — the index mutation
surface (ES `_delete_by_query`, `_update_by_query`, `_forcemerge
?only_expunge_deletes` [public ES docs]; SURVEY.md §2.A5's mutation half).

The ES/Lucene model [public]: a delete only MARKS the doc dead in a
per-segment live-docs bitset; searches skip dead docs immediately; a later
segment merge drops them physically. An update is delete + reindex under a
fresh internal doc id. The Spark-first re-expression:

* tombstones are a parquet table of doc_ids under `<index>/tombstones` —
  appended by `delete_by_query`, routed per shard to the search UDF via a
  cogroup (engine/searcher.py — the delete set is never broadcast whole),
  folded away by `expunge_deletes`;
* `expunge_deletes` routes tombstones to posting rows by a (bucket, shard)
  COGROUP — the dead set is NEVER materialized on the driver (a
  delete_by_query("lang:xx") over a trillion-doc corpus tombstones billions
  of ids; any collect()/broadcast of that set is a driver OOM). Tombstones
  replicate across the B buckets of their shard (B × an 8-byte id — small
  against the postings themselves), and each cogroup task rewrites one
  (bucket, shard) posting slice: decode → drop dead ids → re-encode. Group
  memory is one shard's 1/B of postings, so the SAME knob (n_buckets) that
  sizes partition pruning also bounds expunge task memory at 10^12-doc
  scale. Block-max metadata is recomputed with the post-delete avgdl (a
  smaller avgdl RAISES per-posting impacts, so stale maxima would
  under-bound and break WAND's pruning soundness). term_dict df/cf and
  doc_stats/manifest stats are rebuilt distributed;
* `update_by_query` tombstones the matched docs and reindexes their
  transformed text as a NEW segment under fresh doc_ids in fresh shards;
  the old postings go through the same (bucket, shard) expunge cogroup
  (`expunge_postings`, under the post-update avgdl), then the ordinary
  segment merge folds in the new segment with no drop list — the result is
  value-identical to a fresh build over the transformed corpus
  (tests/test_mutate.py pins this equivalence).

Every posting rewrite here (expunge, and the match scan of
delete/update-by-query) runs the batched codec (engine/codec.py
encode_lists / decode_rows) over a whole batch of posting rows per call.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import decode_rows, encode_lists
from .index import POSTINGS_SCHEMA, IndexManifest, postings_frame, term_id, weight_chunks
from .merge import live_mask
from .searcher import LoadedIndex

_POSTINGS_COLS = [f.name for f in POSTINGS_SCHEMA.fields]


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

        per_term = [ids_of(t) for t in tids]
        present = [p for p in per_term if p is not None]
        empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
        if mode == "and":
            if len(present) < len(tids) or not present:
                return empty
            ids = present[0]
            for p in present[1:]:
                ids = np.intersect1d(ids, p, assume_unique=True)
        else:
            if not present:
                return empty
            ids = np.unique(np.concatenate(present))
        for t in neg_tids:
            if not len(ids):
                break
            n_ids = ids_of(t)
            if n_ids is not None:
                ids = np.setdiff1d(ids, n_ids, assume_unique=True)
        return pd.DataFrame({"doc_id": ids})

    return fn


def match_doc_ids(index: LoadedIndex, query: str, mode: str = "or") -> DataFrame:
    """All doc_ids matching `query` → DataFrame(doc_id). Planned like a
    ranked search (the manifest's analyzer, one term-dict seek) and scanned
    by the searcher's per-shard exchange (bucket partition pruning + tid
    pushdown); per shard the UDF unions/intersects decoded id lists.
    Tombstones are not applied: delete_by_query anti-joins them itself."""
    (q,), found = index._parse([query])
    spec = index._flat_spec("", q, found, 0, mode)
    if spec is None:
        return index.spark.createDataFrame([], "doc_id long")
    fn = _shard_match_fn(list(spec.pos.values()), list(spec.neg.values()), mode)
    return index._shard_frame([spec], fn, "doc_id long")


# ---------------------------------------------------------------------------
# tombstones


def tombstone_path(root: str) -> str:
    return os.path.join(root, "tombstones")


def write_tombstones(root: str, doc_ids: DataFrame) -> None:
    """Append delete marks. Append-mode parquet: each delete_by_query is one
    additional file set; readers union and distinct."""
    doc_ids.select(F.col("doc_id").cast("long").alias("doc_id")).distinct().write.mode(
        "append"
    ).parquet(tombstone_path(root))


def load_tombstones(spark: SparkSession, root: str) -> DataFrame | None:
    p = tombstone_path(root)
    return spark.read.parquet(p).distinct() if os.path.isdir(p) else None


def delete_by_query(index: LoadedIndex, query: str, mode: str = "or") -> int:
    """ES _delete_by_query [public]: mark every match deleted; searches on
    this (re-loaded) index skip them immediately; expunge_deletes folds them
    into the postings. Returns the number of newly tombstoned docs."""
    matched = match_doc_ids(index, query, mode)
    before = load_tombstones(index.spark, index.root)
    if before is not None:
        matched = matched.join(before, "doc_id", "left_anti")
    matched = matched.cache()
    n = matched.count()
    if n:
        write_tombstones(index.root, matched)
        index.tombstones = load_tombstones(index.spark, index.root)
    matched.unpersist()
    return n


# ---------------------------------------------------------------------------
# expunge


def _expunge_pdf(
    pdf: pd.DataFrame, drop: np.ndarray, avgdl: float, block_size: int
) -> pd.DataFrame:
    """Rewrite posting rows: decode → drop dead ids (sorted `drop`,
    searchsorted membership) → re-encode with the post-delete avgdl. Rows
    whose every posting died are dropped. Each row is one list of a batched
    decode and encode (engine/codec.py) — chunks of ~2M postings by the df
    column, not one codec call per row."""
    keys = ["tid", "bucket", "shard", "seg_id", "part"]
    cols = {
        c: pdf[c].to_numpy()
        for c in keys + ["df", "doc_ids_enc", "tfs_enc", "dls_enc", "skips"]
    }
    frames = []
    for lo, hi in weight_chunks(cols["df"], np.arange(len(pdf))):
        ids, tfs, dls, counts = decode_rows(
            cols["doc_ids_enc"][lo:hi], cols["skips"][lo:hi],
            cols["tfs_enc"][lo:hi], cols["dls_enc"][lo:hi],
        )
        row = np.repeat(np.arange(hi - lo), counts)
        live = live_mask(ids, drop)
        enc = encode_lists(
            ids[live], tfs[live], dls[live], row[live], hi - lo, avgdl, block_size
        )
        frames.append(postings_frame({c: cols[c][lo:hi] for c in keys}, enc))
    out = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    return out[out["df"] > 0]


def _expunge_cogroup_fn(avgdl: float, block_size: int):
    """Cogroup body for one (bucket, shard) key: left = that posting slice,
    right = the shard's tombstoned ids (replicated to this bucket). Every
    row re-encodes — even with zero local deletes — because avgdl changed
    globally and block-max impact bounds must stay sound for WAND."""

    def fn(postings_pdf: pd.DataFrame, tomb_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(postings_pdf):
            return pd.DataFrame(
                {c: pd.Series(dtype=postings_pdf[c].dtype) for c in _POSTINGS_COLS}
            )
        drop = np.sort(tomb_pdf["doc_id"].to_numpy().astype(np.int64))
        return _expunge_pdf(postings_pdf, drop, avgdl, block_size)

    return fn


def _with_shard_bucket(
    tomb: DataFrame, docs_per_shard: int, n_buckets: int
) -> DataFrame:
    """Key tombstones by shard and replicate across the shard's B buckets —
    the distributed routing that replaces any driver-side collect/broadcast
    of the dead set."""
    return tomb.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") / F.lit(docs_per_shard)).cast("int").alias("shard"),
        F.explode(F.array(*[F.lit(b) for b in range(n_buckets)])).alias("_b"),
    ).withColumn("bucket", F.col("_b").cast("int")).drop("_b")


def expunge_postings(
    postings: DataFrame,
    tomb: DataFrame,
    avgdl: float,
    block_size: int,
    n_buckets: int,
    docs_per_shard: int,
) -> DataFrame:
    """Distributed expunge: drop every tombstoned doc from the postings and
    re-encode (skips + block-max) under the post-delete `avgdl`. One
    (bucket, shard) cogroup — the dead set shuffles alongside the postings,
    never through the driver; group memory is one shard's 1/B of postings
    plus that shard's dead ids (≤ docs_per_shard longs by construction)."""
    keyed = _with_shard_bucket(tomb, docs_per_shard, n_buckets)
    return (
        postings.groupBy("bucket", "shard")
        .cogroup(keyed.groupBy("bucket", "shard"))
        .applyInPandas(_expunge_cogroup_fn(avgdl, block_size), POSTINGS_SCHEMA)
    )


def _corpus_totals(ds: DataFrame) -> tuple[int, float]:
    r = ds.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).collect()[0]
    n = int(r["n"])
    return n, (float(r["s"]) / n if n else 0.0)


def _swap_in(root: str, name: str) -> None:
    """Atomically replace <root>/<name> with <root>/<name>.tmp."""
    final, tmp = os.path.join(root, name), os.path.join(root, name + ".tmp")
    old = os.path.join(root, name + ".old")
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(final):
        os.rename(final, old)
    os.rename(tmp, final)
    if os.path.isdir(old):
        shutil.rmtree(old)


def _rewrite_term_dict(
    spark: SparkSession, root: str, str_map: DataFrame, n_buckets: int
) -> None:
    """Rebuild term_dict df/cf by aggregating the (already written) new
    postings per tid, joined back to the term-string map; terms whose last
    posting died drop out via the inner join."""
    stats = (
        spark.read.parquet(os.path.join(root, "postings.tmp"))
        .groupBy("tid")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    (
        stats.join(str_map, "tid")
        .select(
            "term", "tid", "df", "cf",
            F.pmod(F.col("tid"), F.lit(n_buckets)).cast("int").alias("bucket"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(root, "term_dict.tmp"))
    )


def _write_manifest(m: IndexManifest) -> None:
    with open(os.path.join(m.root, "manifest.json"), "w") as f:
        f.write(m.to_json())


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

    ds_new = spark.read.parquet(os.path.join(root, "doc_stats")).join(
        tomb, "doc_id", "left_anti"
    )
    ds_new.write.mode("overwrite").parquet(os.path.join(root, "doc_stats.tmp"))
    n_docs, avgdl = _corpus_totals(
        spark.read.parquet(os.path.join(root, "doc_stats.tmp"))
    )

    from .io import write_postings_shards

    old_postings = spark.read.parquet(os.path.join(root, "postings"))
    write_postings_shards(
        expunge_postings(
            old_postings, tomb, avgdl, manifest.block_size,
            manifest.n_buckets, manifest.docs_per_shard,
        ),
        os.path.join(root, "postings.tmp"),
    )
    str_map = spark.read.parquet(os.path.join(root, "term_dict")).select("term", "tid")
    _rewrite_term_dict(spark, root, str_map, manifest.n_buckets)

    for name in ("postings", "term_dict", "doc_stats"):
        _swap_in(root, name)
    shutil.rmtree(tombstone_path(root))
    manifest.n_docs = n_docs
    manifest.avgdl = avgdl
    _write_manifest(manifest)
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

    The old postings are expunged distributed (dead ids routed per
    (bucket, shard) cogroup, never through the driver), then one segment
    merge folds in the reindexed delta — the result is value-identical to a
    from-scratch build over the transformed corpus and needs no separate
    expunge. Returns (manifest, mapping DataFrame(doc_id, key)) — search
    hits join back to stable keys via it.
    """
    from .corpus import corpus_base, exploded_tf
    from .index import encode_segment
    from .io import write_postings_shards
    from .merge import merge_postings
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
        # expunge and the returned mapping's lineage must survive that
        # deletion.
        import uuid

        snap = os.path.join(snap_root, uuid.uuid4().hex)
        prior.write.mode("overwrite").parquet(snap)
        prior = spark.read.parquet(snap)
        matched = matched.join(prior, "doc_id", "left_anti")
    # cache the id set (distributed, spillable) — it feeds the stats
    # rebuild, the expunge and the returned mapping; never collected
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
    max_id = int(
        spark.read.parquet(os.path.join(root, "doc_stats"))
        .agg(F.max("doc_id"))
        .collect()[0][0]
    )
    offset = ((max_id // manifest.docs_per_shard) + 1) * manifest.docs_per_shard
    new_docs = assign_doc_ids(
        transform(matched).select(F.col(key_col).alias("key"), "text"),
        order_col="key",
    ).withColumn("doc_id", F.col("doc_id") + F.lit(offset))

    base = corpus_base(new_docs.select("doc_id", "text")).cache()
    ds_delta = base.select("doc_id", "dl")

    # post-update global stats: survivors + the reindexed docs
    ds_keep = spark.read.parquet(os.path.join(root, "doc_stats")).join(
        all_dead, "doc_id", "left_anti"
    )
    ds_keep.unionByName(ds_delta).write.mode("overwrite").parquet(
        os.path.join(root, "doc_stats.tmp")
    )
    n_docs, avgdl = _corpus_totals(
        spark.read.parquet(os.path.join(root, "doc_stats.tmp"))
    )

    tf_delta = exploded_tf(base)
    delta = encode_segment(
        tf_delta,
        avgdl,
        manifest.n_buckets,
        manifest.docs_per_shard,
        seg_id=manifest.n_segments,
        block_size=manifest.block_size,
    )
    # distributed expunge of the old postings (dead ids routed per
    # (bucket, shard) cogroup — see expunge_postings; no driver-side set),
    # then the ordinary segment merge folds in the reindexed delta. The
    # expunge already re-encodes under the post-update avgdl, so the merge
    # needs no drop list at all.
    old_postings = spark.read.parquet(os.path.join(root, "postings"))
    old_live = expunge_postings(
        old_postings.select(*_POSTINGS_COLS), all_dead, avgdl,
        manifest.block_size, manifest.n_buckets, manifest.docs_per_shard,
    )
    merged = merge_postings(
        old_live.unionByName(delta),
        avgdl,
        block_size=manifest.block_size,
    )
    write_postings_shards(merged, os.path.join(root, "postings.tmp"))

    # term strings: old dictionary ∪ terms the transform introduced
    old_td = spark.read.parquet(os.path.join(root, "term_dict"))
    delta_strs = tf_delta.select(
        "term", term_id(F.col("term")).alias("tid")
    ).distinct()
    str_map = old_td.select("term", "tid").unionByName(delta_strs).distinct()
    _rewrite_term_dict(spark, root, str_map, manifest.n_buckets)

    for name in ("postings", "term_dict", "doc_stats"):
        _swap_in(root, name)
    if os.path.isdir(tombstone_path(root)):
        shutil.rmtree(tombstone_path(root))
    base.unpersist()
    dead.unpersist()
    manifest.n_docs = n_docs
    manifest.avgdl = avgdl
    manifest.n_segments = 1
    _write_manifest(manifest)

    updated = (
        docs.join(all_dead, "doc_id", "left_anti")
        .select("doc_id", F.col(key_col).alias("key"))
        .unionByName(new_docs.select("doc_id", "key"))
    )
    return manifest, updated

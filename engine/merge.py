"""Segment-merge job (SURVEY.md §2.C7; BASELINE.json:6 "a segment-merge job
combines sorted postings into queryable index shards") — the one code path
that decodes and re-encodes stored postings.

Input: postings rows from 1+ segments and 1+ salt parts per (shard, term),
plus an optional dead set (a DataFrame of doc_id). Output: one doc-ordered
posting row per (shard, term) — or several `part`-chained rows when a merged
list exceeds `max_postings_per_row` (range-split by doc_id so readers/WAND
stream parts in order; bounds per-row memory for stop-word-class terms at
10^12-doc scale).

Duplicate doc_ids across segments (a re-indexed document) resolve to the
highest seg_id — ES upsert semantics [public] — and dead doc_ids are dropped
in the same pass, as a Lucene merge drops the docs its live-docs bitset
marks deleted [public: Lucene NRT, TieredMergePolicy]. Every rewriter of
stored postings goes through here: the build's non-bulk merge
(engine/index.py) and expunge_deletes / update_by_query with the tombstones
(engine/mutate.py). Streaming compaction stores no postings between
compactions, so it is a plain build_index (engine/streaming.py).

The dead set is never collected or broadcast: its ids are keyed by shard,
replicated across the shard's B buckets, and meet the postings in one
(bucket, shard) cogroup. Each group decodes, merges and re-encodes its rows
with the batched codec (engine/codec.py decode_rows / encode_lists) in
chunks of ~2M postings — no per-term Python. Group memory is one shard's
1/B of postings plus that shard's dead ids, so the same knob (n_buckets)
that sizes partition pruning also bounds merge memory.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import BLOCK_SIZE
from .codec import decode_rows, encode_lists
from .index import POSTINGS_SCHEMA, TOMBSTONE_SCHEMA, postings_frame, run_starts, weight_chunks

# the posting columns a merge reads (df sizes the decode chunks)
_MERGE_COLS = ["bucket", "shard", "tid", "seg_id", "part", "df", "skips",
               "doc_ids_enc", "tfs_enc", "dls_enc"]


def live_mask(ids: np.ndarray, dead: np.ndarray) -> np.ndarray:
    """True where ids[i] is NOT in the sorted array `dead` (vectorized
    searchsorted membership)."""
    if not len(dead) or not len(ids):
        return np.ones(len(ids), dtype=bool)
    pos = np.minimum(np.searchsorted(dead, ids), len(dead) - 1)
    return dead[pos] != ids


def _merge_runs(
    arrs: dict[str, np.ndarray], starts: np.ndarray, avgdl: float,
    block_size: int, max_postings_per_row: int, dead: np.ndarray,
) -> pd.DataFrame:
    """Merge every (bucket, shard, tid) run of a chunk of posting rows with
    one batched decode and one batched encode (engine/codec.py), dropping
    the doc_ids in the sorted array `dead`."""
    n_rows = len(arrs["tid"])
    ids, tfs, dls, counts = decode_rows(
        arrs["doc_ids_enc"], arrs["skips"], arrs["tfs_enc"], arrs["dls_enc"]
    )
    run_of_row = np.zeros(n_rows, dtype=np.int64)
    run_of_row[starts[1:]] = 1
    run = np.repeat(np.cumsum(run_of_row), counts)
    seg = np.repeat(arrs["seg_id"].astype(np.int64), counts)

    # sort by (run, doc_id, seg_id) — stable, so equal keys keep row order —
    # and keep the LAST occurrence of a doc_id per run: the highest segment
    order = np.lexsort((seg, ids, run))
    ids, tfs, dls, run = ids[order], tfs[order], dls[order], run[order]
    keep = np.ones(len(ids), dtype=bool)
    keep[:-1] = (ids[:-1] != ids[1:]) | (run[:-1] != run[1:])
    keep &= live_mask(ids, dead)
    ids, tfs, dls, run = ids[keep], tfs[keep], dls[keep], run[keep]

    # range-split each run into parts of ≤ max_postings_per_row postings:
    # part = a posting's position in its run // max_postings_per_row
    run_n = np.bincount(run, minlength=len(starts))
    first = np.zeros(len(starts), dtype=np.int64)
    np.cumsum(run_n[:-1], out=first[1:])
    part = (np.arange(len(ids)) - np.repeat(first, run_n)) // max_postings_per_row
    new_list = np.ones(len(ids), dtype=bool)
    new_list[1:] = (run[1:] != run[:-1]) | (part[1:] != part[:-1])
    lstarts = np.flatnonzero(new_list)
    enc = encode_lists(
        ids, tfs, dls, np.cumsum(new_list) - 1, len(lstarts), avgdl, block_size
    )
    row = starts[run[lstarts]]
    keys = {c: arrs[c][row] for c in ("tid", "bucket", "shard")}
    keys.update(seg_id=np.zeros(len(lstarts), dtype=np.int32), part=part[lstarts])
    return postings_frame(keys, enc)


def _merge_group_fn(avgdl: float, block_size: int, max_postings_per_row: int):
    """Cogroup body for one (bucket, shard) key: left = that posting slice
    (any segments, any parts), right = the shard's dead ids. Rows are sorted
    by (tid, seg_id, part), so each tid is one run, and merged in chunks of
    complete runs cut at ~2M postings by the df column (index.weight_chunks),
    so decoded memory stays bounded. Every row re-encodes — even with no
    local deletes — because avgdl is global and block-max impact bounds must
    stay sound for WAND. A tid whose every posting died emits no row."""

    def fn(rows: pd.DataFrame, dead: pd.DataFrame) -> pd.DataFrame:
        order = np.lexsort(
            (rows["part"].to_numpy(), rows["seg_id"].to_numpy(), rows["tid"].to_numpy())
        )
        arrs = {c: rows[c].to_numpy()[order] for c in _MERGE_COLS}
        drop = np.sort(dead["doc_id"].to_numpy(dtype=np.int64))
        starts = run_starts([arrs["tid"]])
        frames = [
            _merge_runs(
                {c: a[lo:hi] for c, a in arrs.items()},
                starts[(starts >= lo) & (starts < hi)] - lo,
                avgdl, block_size, max_postings_per_row, drop,
            )
            for lo, hi in weight_chunks(arrs["df"], starts)
        ]
        return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    return fn


def _with_shard_bucket(dead: DataFrame, docs_per_shard: int, n_buckets: int) -> DataFrame:
    """Key dead ids by shard and replicate across the shard's B buckets —
    the distributed routing that replaces any driver-side collect/broadcast
    of the dead set (B × an 8-byte id, small against the postings)."""
    return dead.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") / F.lit(docs_per_shard)).cast("int").alias("shard"),
        F.explode(F.array(*[F.lit(b) for b in range(n_buckets)])).alias("bucket"),
    )


def merge_postings(
    postings: DataFrame,
    avgdl: float,
    n_buckets: int,
    docs_per_shard: int,
    dead: DataFrame | None = None,
    block_size: int = BLOCK_SIZE,
    max_postings_per_row: int = 1 << 20,
) -> DataFrame:
    """Merged, doc-ordered postings without the `dead` doc_ids, encoded
    under `avgdl`: one (bucket, shard) cogroup of the posting rows with the
    dead set (a DataFrame of doc_id, routed by _with_shard_bucket; None is
    an empty right side). n_buckets and docs_per_shard are the index's own
    routing. Terms whose every posting died drop out."""
    spark = postings.sparkSession
    if dead is None:
        dead = spark.createDataFrame([], TOMBSTONE_SCHEMA)
    # explicit N on both sides: merge cost is Python CPU per row — AQE's
    # byte-based coalescing would undershoot parallelism (see
    # encode_segment); the cogroup reuses this partitioning
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    rows = postings.select(*_MERGE_COLS).repartition(n_parts, "bucket", "shard")
    keyed = _with_shard_bucket(dead, docs_per_shard, n_buckets).repartition(
        n_parts, "bucket", "shard"
    )
    return (
        rows.groupBy("bucket", "shard")
        .cogroup(keyed.groupBy("bucket", "shard"))
        .applyInPandas(
            _merge_group_fn(avgdl, block_size, max_postings_per_row), POSTINGS_SCHEMA
        )
    )

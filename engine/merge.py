"""Segment-merge job (SURVEY.md §2.C7; BASELINE.json:6 "a segment-merge job
combines sorted postings into queryable index shards").

Input: postings rows from 1+ segments and 1+ salt parts per (shard, term).
Output: one doc-ordered posting row per (shard, term) — or several `part`-
chained rows when a merged list exceeds `max_postings_per_row` (range-split
by doc_id so readers/WAND stream parts in order; bounds per-row memory for
stop-word-class terms at 10^12-doc scale).

Duplicate doc_ids across segments (a re-indexed document) resolve to the
highest seg_id — ES upsert semantics [public]. A streaming `mapInPandas`
merger decodes, merges and re-encodes a whole Arrow batch of terms at a time
with the batched codec (engine/codec.py encode_lists / decode_rows) — no
per-term Python (mirrors Lucene segment merging [public: Lucene merge
policy]).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from . import BLOCK_SIZE
from .codec import decode_rows, encode_lists
from .index import POSTINGS_SCHEMA, complete_runs, postings_frame


def live_mask(ids: np.ndarray, dead: np.ndarray) -> np.ndarray:
    """True where ids[i] is NOT in the sorted array `dead` (vectorized
    searchsorted membership)."""
    if not len(dead) or not len(ids):
        return np.ones(len(ids), dtype=bool)
    pos = np.minimum(np.searchsorted(dead, ids), len(dead) - 1)
    return dead[pos] != ids


def _merge_runs(
    arrs: dict[str, np.ndarray], starts: np.ndarray, avgdl: float,
    block_size: int, max_postings_per_row: int, drop_ids=None,
) -> pd.DataFrame:
    """Merge every (bucket, shard, tid) run of a chunk of posting rows with
    one batched decode and one batched encode (engine/codec.py)."""
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
    if drop_ids is not None:
        # expunge deletes during the merge (Lucene merges drop docs the
        # live-docs bitset marks dead [public]); drop_ids is sorted
        keep &= live_mask(ids, drop_ids)
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


def _merge_stream_fn(
    avgdl: float, block_size: int, max_postings_per_row: int, drop_bc=None
):
    """Streaming merger for `mapInPandas` over partitions sorted by
    (bucket,shard,tid,seg_id,part). All rows of a (bucket,shard,tid) land in
    the same partition (the shuffle key is a pure function of them), so each
    run is a complete merge group; runs spanning Arrow batches are carried
    over (index.complete_runs). No per-term Arrow dispatch and no per-term
    codec call: each chunk of complete runs — cut at ~2M postings by the df
    column, so decoded memory stays bounded — is ONE batched decode, one
    lexsort over (run, doc_id, seg_id), and ONE batched encode."""
    keys = ["bucket", "shard", "tid"]
    cols = keys + ["seg_id", "df", "skips", "doc_ids_enc", "tfs_enc", "dls_enc"]

    def fn(batches):
        drop_ids = drop_bc.value if drop_bc is not None else None
        for arrs, starts in complete_runs(batches, cols, keys, weight="df"):
            yield _merge_runs(
                arrs, starts, avgdl, block_size, max_postings_per_row, drop_ids
            )

    return fn


def merge_postings(
    postings: DataFrame,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    max_postings_per_row: int = 1 << 20,
    drop_ids: np.ndarray | None = None,
) -> DataFrame:
    """One shuffle on (bucket, shard, tid) → merged, doc-ordered postings.

    repartition + sortWithinPartitions + mapInPandas: the term space of each
    shard spreads over all reducers (hash of the full key), Spark's external
    sort groups segment/salt rows of a term contiguously, and the streaming
    merger emits one output row per term (range-split into `part`s when a
    stop-word-class list exceeds max_postings_per_row).

    drop_ids: doc_ids to expunge during the merge (delete-by-query
    tombstones, engine.mutate). Shipped as a Spark broadcast of one sorted
    int64 array — the Lucene analog holds exactly this (a live-docs set per
    segment) in executor RAM; deletes are assumed << corpus size."""
    # explicit N: decode/merge/encode cost is Python CPU per row — AQE's
    # byte-based coalescing would undershoot parallelism (see encode_segment)
    spark = postings.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    drop_bc = None
    if drop_ids is not None and len(drop_ids):
        drop_bc = spark.sparkContext.broadcast(
            np.sort(np.asarray(drop_ids, dtype=np.int64))
        )
    return (
        postings.repartition(n_parts, "bucket", "shard", "tid")
        .sortWithinPartitions("bucket", "shard", "tid", "seg_id", "part")
        .mapInPandas(
            _merge_stream_fn(avgdl, block_size, max_postings_per_row, drop_bc),
            POSTINGS_SCHEMA,
        )
    )

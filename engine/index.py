"""Inverted-index build: salted repartition-by-term → compressed postings.

SURVEY.md §2.C5-C9 / BASELINE.json:6: "a salted repartition-by-term shuffle
builds delta-gap + varint-compressed posting lists with per-partition skip
blocks and block-max metadata".

Layout (mirrors the ES/Lucene shard model [public]):

* the doc space is split into **shards** (shard = doc_id // docs_per_shard) —
  query-time WAND runs per shard over all query terms, like an ES shard
  search; shards parallelize scoring at 10^12-doc scale;
* within a shard, postings are keyed by **bucket = pmod(xxhash64(term), B)**
  — the file-partition column, so a term lookup prunes to one bucket
  directory per shard (Catalyst partition pruning, SURVEY.md D3);
* a build over multiple input chunks produces **segments** (seg_id); the
  merge job (engine/merge.py) combines segments into one posting row per
  (shard, term) — Lucene's segment merge [public];
* **hot-term salting** (C5): terms with df above a threshold are split into
  `n_salts` sub-groups by doc-hash before encoding, bounding the per-group
  memory of the encode UDF and splitting the skewed shuffle key — AQE does
  not split skewed groupBy keys, so this is load-bearing for scaling
  (SURVEY.md §7 risk 4). The merge job re-combines salted parts.

The encode UDF is a streaming `mapInPandas` kernel over the sorted shuffle
output; each Arrow batch of term runs is one batched codec call
(engine/codec.py encode_lists).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import BLOCK_SIZE
from .codec import _restart_gaps, _varint_encode_offsets, decode_rows, encode_lists
from .corpus import corpus_base, corpus_stats, exploded_tf, term_stats

SKIP_STRUCT = T.StructType(
    [
        T.StructField("first_doc", T.LongType()),
        T.StructField("doc_off", T.IntegerType()),
        T.StructField("tf_off", T.IntegerType()),
        T.StructField("dl_off", T.IntegerType()),
        T.StructField("max_impact", T.FloatType()),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        # tid = xxhash64(term): postings are keyed NUMERICALLY so the
        # repartition-by-term shuffle, the in-partition sort and every Arrow
        # crossing move fixed-width longs instead of per-row Python strings
        # (Lucene's term-ordinal idea [public]); the string lives only in
        # term_dict. Collisions are checked at dict-build time.
        T.StructField("tid", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("seg_id", T.IntegerType()),
        T.StructField("part", T.IntegerType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
        T.StructField("doc_ids_enc", T.BinaryType()),
        T.StructField("tfs_enc", T.BinaryType()),
        T.StructField("dls_enc", T.BinaryType()),
        T.StructField("skips", T.ArrayType(SKIP_STRUCT)),
        T.StructField("block_max", T.FloatType()),
    ]
)


_POSTINGS_COLS = [f.name for f in POSTINGS_SCHEMA.fields]
_GROUP_COLS = ["bucket", "shard", "seg_id", "part", "tid"]


def term_id(term_col):
    """tid = xxhash64(term): the numeric posting key (see POSTINGS_SCHEMA)."""
    return F.xxhash64(term_col)


def run_starts(key_arrays: list[np.ndarray]) -> np.ndarray:
    """Indices where a new key run begins in key-sorted column arrays."""
    n = len(key_arrays[0]) if key_arrays else 0
    change = np.zeros(n, dtype=bool)
    if n:
        change[0] = True
        for v in key_arrays:
            change[1:] |= v[1:] != v[:-1]
    return np.flatnonzero(change)


# Postings one batched decode/re-encode kernel holds decoded at once (~24 B
# each plus sort temporaries): merge and expunge cut their Arrow batches into
# chunks of about this many postings (weight_chunks over the df column).
DECODE_CHUNK_POSTINGS = 1 << 21


def weight_chunks(weights: np.ndarray, starts: np.ndarray) -> list[tuple[int, int]]:
    """Cut rows [0, len(weights)) at run `starts` (starts[0] == 0) into
    (lo, hi) ranges: a range ends at the first run that begins past another
    DECODE_CHUNK_POSTINGS of summed weight, so only its last run can push it
    over (a single heavier run stays whole)."""
    before = np.concatenate([[0], np.cumsum(weights.astype(np.int64))])[starts]
    new = starts[np.flatnonzero(np.diff(before // DECODE_CHUNK_POSTINGS)) + 1]
    cuts = np.concatenate([[0], new, [len(weights)]]).tolist()
    return list(zip(cuts[:-1], cuts[1:]))


def complete_runs(batches, cols: list[str], keys: list[str], weight: str | None = None):
    """Stream `mapInPandas` batches sorted by `keys` as (column arrays, run
    starts) chunks that hold only COMPLETE key runs: a run spanning Arrow
    batches is carried over to the next one. With `weight`, chunks are also
    cut by weight_chunks over that column."""
    leftover: dict[str, np.ndarray] | None = None

    def cut(arrs, starts):
        if weight is None:
            yield arrs, starts
            return
        for lo, hi in weight_chunks(arrs[weight], starts):
            sub = {c: a[lo:hi] for c, a in arrs.items()}
            yield sub, starts[(starts >= lo) & (starts < hi)] - lo

    for pdf in batches:
        if not len(pdf):
            continue
        arrs = {c: pdf[c].to_numpy() for c in cols}
        if leftover is not None:
            arrs = {c: np.concatenate([leftover[c], arrs[c]]) for c in cols}
            leftover = None
        starts = run_starts([arrs[c] for c in keys])
        if len(starts) == 1:  # single (possibly incomplete) run — hold
            leftover = arrs
            continue
        last = int(starts[-1])
        # .copy() releases the batch's base arrays (a view would pin every
        # emitted row's buffers until the next batch); copies pointers only
        leftover = {c: arrs[c][last:].copy() for c in cols}
        yield from cut({c: a[:last] for c, a in arrs.items()}, starts[:-1])
    if leftover is not None and len(leftover[keys[0]]):
        yield from cut(leftover, np.array([0]))


def sorted_run_starts(pdf: pd.DataFrame, key_cols: list[str]) -> np.ndarray:
    """Indices where a new key run begins in a key-sorted frame (vectorized)."""
    if not len(pdf):
        return np.empty(0, dtype=np.int64)
    return run_starts([pdf[c].to_numpy() for c in key_cols])


# Map-side partial postings: the pre-shuffle wire format. One row per
# (bucket, shard, seg_id, part, tid) run found inside one map-partition chunk
# — doc_ids delta+varint-encoded (absolute restart at the run start), tf/dl
# plain varint. No skips/block-max (those are final-encode artifacts). The
# salted exchange then moves ~4-6 bytes per posting instead of a 4-long row:
# the map-side combine for the index build, exactly as a distributed sort
# would combine before its exchange.
PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("tid", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("seg_id", T.IntegerType()),
        T.StructField("part", T.IntegerType()),
        T.StructField("ids_enc", T.BinaryType()),
        T.StructField("tfs_enc", T.BinaryType()),
        T.StructField("dls_enc", T.BinaryType()),
    ]
)

_PARTIAL_COLS = [f.name for f in PARTIAL_SCHEMA.fields]


def _partial_encode_fn(max_pairs: int = 1 << 22):
    """Map-side partial posting encoder for `mapInPandas` over UNSHUFFLED
    (tid, doc_id, tf, dl, bucket, shard, seg_id, part) pair rows.

    Accumulates up to `max_pairs` rows (bounds memory at ~32 B/pair ≈ 128 MiB
    per flush regardless of input partition size), then ONE np.lexsort + ONE
    vectorized varint pass per stream encodes every run in the chunk — the
    per-run Python work is only a bytes-slice, so the Zipf tail of
    single-posting terms costs nanoseconds, not a varint call each. Long
    accumulation is what makes partials pay: runs average
    chunk_pairs / chunk_vocab postings, amortizing the per-row key overhead."""

    _cols = _GROUP_COLS + ["doc_id", "tf", "dl"]

    def flush(acc: dict[str, list[np.ndarray]]):
        arrs = {c: np.concatenate(acc[c]) for c in _cols}
        n = len(arrs["tid"])
        if n == 0:
            return None
        # lexsort: last key is primary → (bucket, shard, seg_id, part, tid, doc_id)
        order = np.lexsort((arrs["doc_id"], arrs["tid"], arrs["part"],
                            arrs["seg_id"], arrs["shard"], arrs["bucket"]))
        arrs = {c: arrs[c][order] for c in _cols}
        starts = run_starts([arrs[c] for c in _GROUP_COLS])
        doc_enc, d_off = _varint_encode_offsets(
            _restart_gaps(arrs["doc_id"], starts), starts
        )
        tf_enc, t_off = _varint_encode_offsets(arrs["tf"].astype(np.uint64), starts)
        dl_enc, l_off = _varint_encode_offsets(arrs["dl"].astype(np.uint64), starts)
        d_b = np.append(d_off, len(doc_enc))
        t_b = np.append(t_off, len(tf_enc))
        l_b = np.append(l_off, len(dl_enc))
        tid_a, b_a = arrs["tid"], arrs["bucket"]
        sh_a, sg_a, p_a = arrs["shard"], arrs["seg_id"], arrs["part"]
        rows = [
            (
                int(tid_a[s]), int(b_a[s]), int(sh_a[s]), int(sg_a[s]), int(p_a[s]),
                doc_enc[d_b[i]:d_b[i + 1]], tf_enc[t_b[i]:t_b[i + 1]],
                dl_enc[l_b[i]:l_b[i + 1]],
            )
            for i, s in enumerate(starts.tolist())
        ]
        return pd.DataFrame(rows, columns=_PARTIAL_COLS)

    def fn(batches):
        acc: dict[str, list[np.ndarray]] = {c: [] for c in _cols}
        held = 0
        for pdf in batches:
            if not len(pdf):
                continue
            for c in _cols:
                acc[c].append(pdf[c].to_numpy())
            held += len(pdf)
            if held >= max_pairs:
                out = flush(acc)
                if out is not None:
                    yield out
                acc = {c: [] for c in _cols}
                held = 0
        if held:
            out = flush(acc)
            if out is not None:
                yield out

    return fn


def _expand_partials(pdf: pd.DataFrame) -> pd.DataFrame:
    """Decode a batch of partial rows back to pair rows with the shared
    batched decoder (codec.decode_rows: one varint pass per stream, each
    partial one delta run). Row order — and so group contiguity from the
    reduce-side sort — is preserved."""
    ids, tfs, dls, counts = decode_rows(
        pdf["ids_enc"].to_numpy(), None, pdf["tfs_enc"].to_numpy(),
        pdf["dls_enc"].to_numpy(),
    )
    out = {c: np.repeat(pdf[c].to_numpy(), counts) for c in _GROUP_COLS}
    out.update(doc_id=ids, tf=tfs, dl=dls)
    return pd.DataFrame(out)


def _partial_merge_fn(avgdl: float, block_size: int):
    """Reduce-side combiner: expand partial rows to pair rows per Arrow batch
    and delegate to the SAME streaming run-encoder the raw-pair path uses —
    one code path computes skips/block-max either way, so the two paths are
    byte-identical per (bucket, shard, seg_id, part, tid) by construction."""
    inner = _encode_stream_fn(avgdl, block_size)

    def fn(batches):
        yield from inner(
            _expand_partials(pdf) for pdf in batches if len(pdf)
        )

    return fn


def postings_frame(keys: dict[str, np.ndarray], enc: dict) -> pd.DataFrame:
    """POSTINGS_SCHEMA frame from per-row key columns and the matching
    codec.encode_lists columns."""
    cols = dict(keys)
    cols.update((c, enc[c]) for c in _POSTINGS_COLS if c not in keys)
    return pd.DataFrame(cols, columns=_POSTINGS_COLS)


def _encode_stream_fn(avgdl: float, block_size: int):
    """Streaming encoder for `mapInPandas` over partitions sorted by
    (bucket,shard,seg_id,part,term,doc_id).

    Sort-based shuffle + a streaming run scanner instead of
    groupBy().applyInPandas: grouped-map pays ~ms of Arrow dispatch PER
    GROUP, which the Zipf tail of rare single-posting terms turns into the
    dominant cost; here dispatch is per Arrow batch (~10k rows) and memory
    is bounded by one batch + the largest single run (itself bounded by
    docs_per_shard × salting). Every run of a batch is one posting list of
    ONE codec.encode_lists call — no per-run codec call; runs spanning
    batch boundaries are carried over (complete_runs)."""

    _cols = _GROUP_COLS + ["doc_id", "tf", "dl"]

    def fn(batches):
        for arrs, starts in complete_runs(batches, _cols, _GROUP_COLS):
            n = len(arrs["tid"])
            list_ids = np.repeat(
                np.arange(len(starts)), np.diff(np.append(starts, n))
            )
            enc = encode_lists(
                arrs["doc_id"], arrs["tf"], arrs["dl"], list_ids, len(starts),
                avgdl, block_size,
            )
            yield postings_frame({c: arrs[c][starts] for c in _GROUP_COLS}, enc)

    return fn


def encode_segment(
    tf_dl: DataFrame,
    avgdl: float,
    n_buckets: int = 8,
    docs_per_shard: int = 1 << 20,
    seg_id: int = 0,
    hot_df: int | None = None,
    n_salts: int = 4,
    hot_terms: list[str] | None = None,
    block_size: int = BLOCK_SIZE,
    doc_bounds: tuple[int, int] | None = None,
    partial_encode: bool = False,
) -> DataFrame:
    """Encode one segment's postings from tf rows (term, doc_id, tf, dl).

    hot_terms: the explicit hot-term list (build_index precomputes it from
    cached term stats). When the caller has no list but sets hot_df, the
    list is derived here from tf_dl (one extra distinct-count aggregate) —
    the threshold contract the parameter name promises.

    The repartition below IS the salted repartition-by-term shuffle: one
    Exchange on (bucket,shard,seg_id,part). Non-hot terms route by term hash
    (whole list on one reducer); hot terms are salted so no single reducer
    gets the full "the" list (C5 salting). Each reducer then sort-streams
    its runs through one mapInPandas encoder — Spark's external shuffle sort
    does the grouping, so memory stays bounded and there is no per-term
    Arrow dispatch.

    doc_bounds=(lo, hi): when the segment's doc_id range is known, hot-term
    salts are CONTIGUOUS DOC RANGES (salt = (doc_id−lo)·S/(hi−lo+1)) instead
    of doc-id hashes. Load balance is identical for dense doc ids (B6
    guarantees density), but every salt part then covers a disjoint doc
    range — which makes the segment merge a pure concatenation (the Lucene
    bulk-merge analog, see build_index) instead of a decode/re-encode of
    every posting. Without bounds the hash salt is used (streaming deltas,
    arbitrary caller ids)."""
    if hot_terms is None and hot_df is not None:
        hot_terms = [
            r["term"]
            for r in tf_dl.groupBy("term")
            .agg(F.count_distinct("doc_id").alias("df"))
            .filter(F.col("df") > hot_df)
            .select("term")
            .collect()
        ]
    df = (
        tf_dl.withColumn("tid", term_id(F.col("term")))
        .withColumn("bucket", F.pmod(F.col("tid"), F.lit(n_buckets)).cast("int"))
        .withColumn("shard", (F.col("doc_id") / F.lit(docs_per_shard)).cast("int"))
        .withColumn("seg_id", F.lit(seg_id).cast("int"))
    )
    term_part = F.pmod(F.xxhash64("tid", F.lit(1)), F.lit(n_salts)).cast("int")
    if hot_terms:
        hot = F.col("term").isin(list(hot_terms))
        if doc_bounds is not None and doc_bounds[1] >= doc_bounds[0]:
            lo, hi = doc_bounds
            span = hi - lo + 1
            salt = F.greatest(
                F.lit(0),
                F.least(
                    F.lit(n_salts - 1),
                    F.floor((F.col("doc_id") - F.lit(lo)) * F.lit(n_salts) / F.lit(span)),
                ),
            ).cast("int")
        else:
            salt = F.pmod(F.xxhash64("doc_id"), F.lit(n_salts)).cast("int")
        df = df.withColumn("part", F.when(hot, salt).otherwise(term_part))
    else:
        df = df.withColumn("part", term_part)
    # EXPLICIT partition count: AQE sizes post-shuffle partitions by shuffle
    # BYTES and would coalesce this exchange to a handful of tasks — but the
    # cost behind each row is Python-side encode CPU, so parallelism must
    # track cores, not bytes. repartition(N, cols) pins N and opts out of
    # coalescing for exactly this exchange.
    n_parts = int(tf_dl.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    pairs = df.select("tid", "doc_id", "tf", "dl", "bucket", "shard", "seg_id", "part")
    if partial_encode:
        # Map-side partial encode BEFORE the exchange (see _partial_encode_fn):
        # the shuffle then moves per-run varint blobs (~4-6 B/posting) instead
        # of 4-long pair rows, and the reduce-side external sort orders ~10-20×
        # fewer rows. Shuffle bytes are the scaling ceiling of the build on a
        # shared-memory box AND of a real cluster's network — this is the
        # single biggest scale lever in the job (north rule: efficiency ≥0.8
        # N→4N). Output is byte-identical to the raw-pair path
        # (tests/test_index.py pins it).
        return (
            pairs.mapInPandas(_partial_encode_fn(), PARTIAL_SCHEMA)
            .repartition(n_parts, "bucket", "shard", "seg_id", "part")
            .sortWithinPartitions(*_GROUP_COLS)
            .mapInPandas(_partial_merge_fn(avgdl, block_size), POSTINGS_SCHEMA)
        )
    return (
        pairs.repartition(n_parts, "bucket", "shard", "seg_id", "part")
        .sortWithinPartitions(*_GROUP_COLS, "doc_id")
        .mapInPandas(_encode_stream_fn(avgdl, block_size), POSTINGS_SCHEMA)
    )


def detect_hot_terms(ts: DataFrame, hot_df: int) -> list[str]:
    """C5 hot-term list from C4 stats (never hardcoded terms)."""
    return [r["term"] for r in ts.filter(F.col("df") > hot_df).select("term").collect()]


def build_term_dict(ts: DataFrame, n_buckets: int, check_collisions: bool = True) -> DataFrame:
    """C9: global term directory term → (tid, df, cf, bucket). Built from the
    term-stats table (term, df, cf) — the postings themselves carry only the
    numeric tid. The 64-bit hash space makes a collision astronomically
    unlikely (~V²/2⁶⁵); it is still CHECKED here because a silent collision
    would merge two posting lists."""
    td = ts.select(
        "term",
        term_id(F.col("term")).alias("tid"),
        "df",
        "cf",
        F.pmod(term_id(F.col("term")), F.lit(n_buckets)).cast("int").alias("bucket"),
    )
    if check_collisions:
        r = td.agg(
            F.count_distinct("term").alias("t"), F.count_distinct("tid").alias("i")
        ).collect()[0]
        if int(r["t"]) != int(r["i"]):
            raise RuntimeError(
                f"xxhash64 term-id collision: {int(r['t'])} terms → {int(r['i'])} tids"
            )
    return td


@dataclass
class IndexManifest:
    root: str
    n_docs: int
    avgdl: float
    n_buckets: int
    docs_per_shard: int
    n_segments: int
    block_size: int
    quantize_norms: bool = False
    analyzer: str = "standard"

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=2)

    @staticmethod
    def load(root: str) -> "IndexManifest":
        with open(os.path.join(root, "manifest.json")) as f:
            return IndexManifest(**json.load(f))


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    n_buckets: int = 8,
    docs_per_shard: int = 1 << 20,
    n_segments: int = 1,
    hot_df: int | None = None,
    n_salts: int = 4,
    block_size: int = BLOCK_SIZE,
    checkpoint=None,
    quantize_norms: bool = False,
    bulk_merge: bool = True,
    partial_encode: bool | None = None,
    analyzer: str = "standard",
) -> IndexManifest:
    """Full index build: docs(doc_id, text, …) → postings shards + term_dict
    + doc_stats + manifest under out_root (SURVEY.md §3.1 lifecycle).

    quantize_norms: ES-style lossy doc-length norms (codec.quantize_norm) —
    postings and doc_stats carry the quantized dl, avgdl stays exact (as in
    Lucene, where avgdl derives from exact totals but per-doc norms are
    1-byte [public]). Default off: scores then match the exact oracles.

    n_segments > 1 splits the corpus into doc-range segments encoded
    independently and then merged — exercising the segment-merge job the way
    an incremental/streaming build would.

    checkpoint: optional engine.checkpoint.CheckpointManager — each stage is
    materialized + manifest-tracked so an interrupted build resumes without
    recomputation (BASELINE.json:6).

    bulk_merge (default on): build-time segments partition doc-space by
    RANGE (seg = doc_id // seg_size) and hot-term salts are doc-range
    buckets (encode_segment doc_bounds), so every posting row of a
    (bucket, shard, tid) covers a disjoint doc range. Doc-ordered
    concatenation therefore IS the merge — relabel part := seg_id·S + part
    (ascending part == ascending doc range) and seg_id := 0, with zero
    decode or re-encode; the read path already streams part-chained rows in
    part order. This is the Lucene bulk-merge analog [public: Lucene merge
    of segments with no deletions copies postings wholesale]. The general
    decode/merge/encode job (engine/merge.py) remains the engine for inputs
    that CAN overlap: streaming compaction, reindex upserts, tombstone
    expunges (engine/streaming.py, engine/mutate.py) — set bulk_merge=False
    to route this build through it (equivalence is pinned by
    tests/test_index.py::test_segment_invariance on both paths).
    """
    from .merge import merge_postings  # local import to avoid cycle

    def stage_base():
        # (doc_id, dl, terms[], tfs[]) — THE analyzer pass with map-side
        # term counting fused in (corpus_base); one compact row per doc, so
        # caching/checkpointing it is O(docs), not O(term-doc pairs), and no
        # groupBy(term, doc_id) shuffle ever happens
        return corpus_base(docs, analyzer=analyzer)

    cached: list[DataFrame] = []
    if checkpoint is not None:
        # the caller's fingerprint covers the INPUT; every build parameter
        # that changes stage output encoding must be folded in too, or a
        # re-run with e.g. a different bucket count would resume stale rows
        # whose pmod(tid, old_B) routing silently breaks term lookup
        checkpoint.fingerprint += (
            f";buckets={n_buckets};dps={docs_per_shard};segs={n_segments}"
            f";hot={hot_df};salts={n_salts};bs={block_size};qn={quantize_norms}"
            f";an={analyzer}"
        )
        # checkpoint stages are parquet-materialized — no recompute by design
        base = checkpoint.stage("base", stage_base)
    else:
        # base is consumed by corpus stats, hot-term detection and one
        # explode per segment — cache so the analyzer UDF runs once
        base = stage_base().cache()
        cached = [base]

    import time as _time

    _prof = os.environ.get("ENGINE_PROFILE") == "1"
    _laps: dict[str, float] = {}
    _t0 = _time.perf_counter()

    def _lap(name: str) -> None:
        nonlocal _t0
        if _prof:
            now = _time.perf_counter()
            _laps[name] = round(now - _t0, 2)
            _t0 = now

    ds = base.select("doc_id", "dl")
    # ONE agg pass: n_docs + exact avgdl (Lucene-style) + actual doc_id
    # bounds (dense 0..n−1 for refine output, but not assumed — bounds feed
    # range salting + bulk merge)
    _st = ds.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"),
    ).collect()[0]
    n_docs = int(_st["n"])
    avgdl = float(_st["avgdl"]) if n_docs else 0.0
    doc_mn = int(_st["mn"]) if n_docs else 0
    doc_mx = int(_st["mx"]) if n_docs else -1
    _lap("base+stats")
    if quantize_norms:
        # lossy per-doc norms (codec.quantize_norm, JVM-side twin): keep the
        # top 4 significant bits of dl; postings + doc_stats see the same
        # quantized value, so every scorer path stays self-consistent
        nbits = (F.floor(F.log2(F.col("dl"))) + F.lit(1)).cast("int")
        pow2 = F.pow(F.lit(2.0), (nbits - F.lit(4)).cast("double"))  # exact ≤ 2^52
        base = base.withColumn(
            "dl",
            F.when(
                F.col("dl") >= 16,
                (F.floor(F.col("dl") / pow2) * pow2).cast("long"),
            ).otherwise(F.col("dl")),
        )
        ds = base.select("doc_id", "dl")
    if partial_encode is None:
        # AUTO: the map-side partial encode adds one Python stage + one
        # Arrow round-trip of the pair table — fixed cost that pays only
        # when the salted exchange it shrinks is large. Gate on estimated
        # pair volume (n_docs × avgdl ≈ token count ≥ distinct pairs): tiny
        # corpora (tests, bench fixtures, streaming micro-batches) keep the
        # single-stage path; anything web-scale (and the 150k-page scaling
        # job) takes the partial path where shuffle bytes are the ceiling.
        partial_encode = n_docs * max(avgdl, 1.0) > 10_000_000
    tf_dl = exploded_tf(base)  # (term, doc_id, tf, dl) — JVM explode, no join
    # ts (V rows, V = vocab size) feeds BOTH hot-term detection and the term
    # dictionary — cache it so the 26M-row explode+groupBy runs once
    ts = term_stats(tf_dl.select("term", "doc_id", "tf")).cache()
    cached.append(ts)
    hot_terms = detect_hot_terms(ts, hot_df) if hot_df is not None else []
    _lap("hot_terms")

    def stage_segments():
        if n_segments <= 1:
            return encode_segment(
                tf_dl, avgdl, n_buckets, docs_per_shard, 0, hot_df, n_salts,
                hot_terms, block_size, doc_bounds=(doc_mn, doc_mx),
                partial_encode=partial_encode,
            )
        # split on the ACTUAL id range (doc_mn..doc_mx), not an assumed
        # 0..n_docs-1: offset or sparse ids (streaming continuations,
        # caller-supplied ids) must still land inside 0..n_segments-1 or
        # the per-segment filters silently drop documents
        seg_size = max(1, (doc_mx - doc_mn + n_segments) // n_segments)
        seg_col = F.least(
            F.lit(n_segments - 1),
            ((F.col("doc_id") - F.lit(doc_mn)) / F.lit(seg_size)).cast("int"),
        )
        parts = []
        for s in range(n_segments):
            # filter on the compact base BEFORE the explode
            seg_tf = exploded_tf(base.filter(seg_col == s))
            parts.append(
                encode_segment(
                    seg_tf, avgdl, n_buckets, docs_per_shard, s, hot_df, n_salts,
                    hot_terms, block_size,
                    doc_bounds=(
                        doc_mn + s * seg_size,
                        min(doc_mx, doc_mn + (s + 1) * seg_size - 1),
                    ),
                    partial_encode=partial_encode,
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def stage_merged():
        raw = (
            checkpoint.stage("segments", stage_segments, schema=POSTINGS_SCHEMA)
            if checkpoint is not None
            else stage_segments()
        )
        if bulk_merge:
            # bulk merge (see build_index docstring): disjoint doc ranges by
            # construction → concatenation-by-relabel, no transcode
            return raw.withColumn(
                "part",
                (F.col("seg_id") * F.lit(n_salts) + F.col("part")).cast("int"),
            ).withColumn("seg_id", F.lit(0).cast("int"))
        return merge_postings(raw, avgdl, block_size=block_size)

    merged = (
        checkpoint.stage("merged", stage_merged, schema=POSTINGS_SCHEMA)
        if checkpoint is not None
        else stage_merged()
    )

    from .io import write_postings_shards

    os.makedirs(out_root, exist_ok=True)
    # A3 segment sink: partition by bucket, tid-sorted within files so the
    # per-term posting fetch is a pruned scan + pushdown range
    write_postings_shards(merged, os.path.join(out_root, "postings"))
    _lap("encode+merge+write")
    # Output file sizing: these are narrow metadata tables (a few dozen
    # bytes/row); writing them from every corpus partition yields a spray of
    # KB-sized files plus per-task committer overhead. Target ~2M rows per
    # output file — one file at fixture scale, still parallel at web scale.
    n_meta_files = max(1, n_docs // 2_000_000)
    build_term_dict(ts, n_buckets).coalesce(n_meta_files).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_root, "term_dict"))
    _lap("term_dict")
    ds.coalesce(n_meta_files).write.mode("overwrite").parquet(
        os.path.join(out_root, "doc_stats")
    )
    _lap("doc_stats_sink")
    if _prof:
        print("ENGINE_PROFILE " + json.dumps(_laps), file=__import__("sys").stderr)
    for c in cached:
        c.unpersist()

    manifest = IndexManifest(
        root=out_root,
        n_docs=n_docs,
        avgdl=avgdl,
        n_buckets=n_buckets,
        docs_per_shard=docs_per_shard,
        n_segments=n_segments,
        block_size=block_size,
        quantize_norms=quantize_norms,
        analyzer=analyzer,
    )
    with open(os.path.join(out_root, "manifest.json"), "w") as f:
        f.write(manifest.to_json())
    return manifest

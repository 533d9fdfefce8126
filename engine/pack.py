"""Training-sequence packing (LLM-data-pipeline op, SURVEY.md §2 pipeline
extras): lay the corpus out as one token stream in doc_id order and chop it
into fixed-length training sequences — the standard "concat and chunk"
pretraining batcher [public: GPT-2/3 data pipeline descriptions; HuggingFace
`group_texts`]. The engine computes, per document, where its tokens land:

    tok_start   global offset of the doc's first token
    pack_first  sequence index holding that first token
    pack_last   sequence index holding the doc's last token

A doc with pack_first != pack_last straddles a sequence boundary (it will be
split across training examples); downstream consumers use these spans to
emit per-pack slices without ever materializing the token stream.

Scale design: the global prefix sum is NOT a single-partition window (that
serializes the corpus through one task — the N→4N scaling killer). Dense
doc_ids (refine.assign_doc_ids guarantees 0..N-1) make contiguous buckets a
pure function of doc_id, so:

  1. one hash aggregate → per-bucket token totals (tiny: n_buckets rows);
  2. driver-side running sum over the sorted buckets → per-bucket offset
     (O(n_buckets) — same bounded-collect shape as refine.assign_doc_ids);
  3. within-bucket cumulative sum, window partitioned BY BUCKET (parallel).

Every stage is parallel; the only serial work is the n_buckets-row scan.
The default bucketing is FIXED-WIDTH (doc_id // bucket_width — monotone, so
bucket offsets + within-bucket cumsum == the global prefix sum) and needs no
row count: the whole job is two passes over the (doc_id, n_tokens) frame,
which is persisted between them. Passing `n_docs` switches to range buckets
(doc_id·B/N), byte-identical output either way (tested)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PACK_BUCKETS = 1024
# default fixed bucket width: 8k docs/bucket → ~125k buckets per 10^9 docs
# (driver-side offset scan stays tiny) with ample window parallelism
PACK_BUCKET_WIDTH = 8192

_SCHEMA = (
    "doc_id long, n_tokens long, tok_start long, "
    "pack_first long, pack_last long"
)


def pack_documents(
    docs: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: int | None = None,
    n_buckets: int = PACK_BUCKETS,
    bucket_width: int = PACK_BUCKET_WIDTH,
    token_counter: str = "whitespace",
) -> DataFrame:
    """Per-doc packing spans for concat-and-chunk at `seq_len` tokens.

    Returns (doc_id, n_tokens, tok_start, pack_first, pack_last), one row per
    doc, doc_id-ordered semantics (the token stream concatenates in doc_id
    order). token_counter: "whitespace" (split count, the cheap default) or
    "bpe" — EXACT subword accounting via the pinned-merges encoder
    (engine.bpe.bpe_count_udf, Arrow-batched); the prefix-sum scheme is
    untouched either way.

    Requires dense doc_ids 0..N-1 (refine.assign_doc_ids invariant). With
    `n_docs` given, buckets are contiguous ranges doc_id·B/N; by default
    (fixed-width doc_id // bucket_width) no count pass is needed. The
    intermediate (doc_id, n_tokens) frame is persisted across the two
    passes; it is unpersisted lazily by Spark's cache eviction (tiny: three
    longs per doc)."""
    if n_docs is not None and n_docs > 0:
        n_b = max(1, min(n_buckets, n_docs))
        bucket = (F.col(id_col) * n_b / F.lit(n_docs)).cast("long")
    else:
        bucket = (F.col(id_col) / F.lit(max(1, bucket_width))).cast("long")
    if token_counter == "bpe":
        from .bpe import bpe_count_udf

        counter = bpe_count_udf(F.col(text_col))
    elif token_counter == "whitespace":
        counter = F.size(F.split(F.col(text_col), " ")).cast("long")
    else:
        raise ValueError(f"token_counter must be whitespace|bpe: {token_counter}")
    t = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            counter.cast("long").alias("n_tokens"),
        )
        .withColumn("_b", bucket)
        .persist()
    )
    per_bucket = {
        r["_b"]: r["s"]
        for r in t.groupBy("_b").agg(F.sum("n_tokens").alias("s")).collect()
    }
    if not per_bucket:  # empty input — schema-stable empty result
        t.unpersist()
        return docs.sparkSession.createDataFrame([], _SCHEMA)
    offsets, acc = {}, 0
    for b in sorted(per_bucket):
        offsets[b] = acc
        acc += per_bucket[b]
    off_expr = F.create_map(*[F.lit(x) for b in offsets for x in (b, offsets[b])])

    w = Window.partitionBy("_b").orderBy("doc_id")
    cum_before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    tok_start = (off_expr[F.col("_b")] + cum_before).cast("long")
    return (
        t.withColumn("tok_start", tok_start)
        .select(
            "doc_id",
            "n_tokens",
            "tok_start",
            F.floor(F.col("tok_start") / seq_len).cast("long").alias("pack_first"),
            F.floor((F.col("tok_start") + F.col("n_tokens") - 1) / seq_len)
            .cast("long")
            .alias("pack_last"),
        )
    )

"""Structured-Streaming ingest (SURVEY.md §2.J — the reference's "real-time
refinement" loop, re-expressed as a Spark stream sink).

`IncrementalIndexer` is a `foreachBatch` sink over a stream of contract
pages (url, warc_ts, html, text, lang): each micro-batch is refined (url
dedup, optional lang filter, html strip, cross-batch latest-wins upsert) and
becomes one delta segment (engine.index.encode_segment with seg_id=batch_id)
appended under its root; `compact()` merges the delta segments into the
queryable index (Lucene NRT flush+merge analogue [public: Lucene NRT]).
Batch doc_ids continue from a persisted offset so ids stay dense and stable.

Deterministic in tests via `trigger(availableNow=True)` + file sources.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class IncrementalIndexer:
    """foreachBatch sink: micro-batch → refine → delta segment append.

    Layout under `root`:
      postings_delta/   one parquet append per micro-batch (seg_id = batch)
      doc_stats_delta/  appended per batch
      term_stats/       per-batch term strings (the postings carry tids)
      url_map/, tombstones/   the cross-batch upsert state (_fold_upsert)
      state.json        {next_doc_id, n_docs, sum_dl, batches: [...]}

    `compact(spark)` merges all delta segments into a queryable index at
    `root/compacted` via the segment-merge job (C7, engine/merge.py), which
    drops the superseded re-crawls in the same pass, and publishes it with
    the same writer build_index uses (index.publish_index) — mirroring
    Lucene's NRT flush-then-merge lifecycle [public].

    avgdl drift: postings bake impact block maxima computed with the avgdl
    of their batch; compact() re-encodes with the global avgdl so scores are
    identical to a from-scratch batch build."""

    def __init__(
        self,
        root: str,
        n_buckets: int = 4,
        docs_per_shard: int = 1 << 20,
        block_size: int = 128,
        lang: str | None = None,
    ):
        self.root = root
        self.n_buckets = n_buckets
        self.docs_per_shard = docs_per_shard
        self.block_size = block_size
        self.lang = lang
        os.makedirs(root, exist_ok=True)

    # -- state ---------------------------------------------------------------
    @property
    def _state_path(self) -> str:
        return os.path.join(self.root, "state.json")

    def _load_state(self) -> dict:
        if os.path.exists(self._state_path):
            with open(self._state_path) as f:
                return json.load(f)
        return {"next_doc_id": 0, "n_docs": 0, "sum_dl": 0, "batches": []}

    def _save_state(self, st: dict) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self._state_path)

    # -- cross-batch latest-wins upsert (J5 — VERDICT r04 "What's wrong" #4) -
    def _fold_upsert(
        self, inc: DataFrame, batch_id: int, committed: list[int]
    ) -> DataFrame:
        """The streaming counterpart of the batch path's B5 invariant
        ("latest crawl wins", refine.dedup_latest): a URL re-crawled in a
        LATER micro-batch supersedes its earlier live doc instead of
        indexing as a second one.

        Per committed batch the indexer keeps `url_map/batch=<id>`
        (url, doc_id, warc_ts, _h). Incoming rows fight the latest prior
        entry for their url under the SAME ordering dedup_latest uses —
        (warc_ts desc, content-hash desc): a winning re-crawl tombstones the
        old doc_id (`tombstones/batch=<id>`, folded out at compact()); a
        stale out-of-order arrival is dropped. NOT implemented as
        `dropDuplicatesWithinWatermark(url)` upstream — that keeps the
        FIRST-seen row per url, the opposite of latest-wins.

        Scale shape: the url_map grows with the corpus, so the prior side is
        first semi-filtered by a BROADCAST of this batch's (tiny) url set —
        one map scan, no corpus-sized shuffle — and the surviving handful of
        rows broadcast back into the join against the batch.

        Replay safety: only maps of COMMITTED batches are read (an
        uncommitted crash-litter map for THIS batch must not make the replay
        lose to itself); both side outputs overwrite their batch-keyed dir.
        Tie ordering vs the batch path: the hash here is over the refined
        `text`; batch dedup_latest hashes raw html when it is present —
        equal-timestamp re-crawl ties may order differently (documented; the
        timestamp order, the actual ES upsert semantics, always agrees)."""
        spark = inc.sparkSession
        inc = inc.withColumn("_h", F.xxhash64("text"))
        paths = [
            os.path.join(self.root, "url_map", f"batch={b}") for b in committed
        ]
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return inc
        from pyspark.sql import Window

        batch_urls = F.broadcast(inc.select("url").distinct())
        prev = (
            spark.read.parquet(*paths)
            .join(batch_urls, "url", "left_semi")
        )
        latest = (
            prev.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("url").orderBy(
                        F.col("warc_ts").desc(), F.col("_h").desc(),
                        F.col("doc_id").desc(),
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .select(
                "url",
                F.col("warc_ts").alias("_pts"),
                F.col("_h").alias("_ph"),
                F.col("doc_id").alias("_pid"),
            )
        )
        j = inc.join(F.broadcast(latest), "url", "left")
        wins = F.col("_pid").isNull() | (
            F.struct(F.col("warc_ts"), F.col("_h"))
            > F.struct(F.col("_pts"), F.col("_ph"))
        )
        j.filter(wins & F.col("_pid").isNotNull()).select(
            F.col("_pid").alias("doc_id")
        ).write.mode("overwrite").parquet(
            os.path.join(self.root, "tombstones", f"batch={int(batch_id)}")
        )
        return j.filter(wins).drop("_pts", "_ph", "_pid")

    # -- foreachBatch --------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One delta segment per micro-batch. Idempotent on batch_id replay
        (streaming restarts redeliver the last uncommitted batch)."""
        from .corpus import corpus_base, exploded_tf
        from .index import encode_segment
        from .refine import assign_doc_ids, dedup_latest, html_strip_udf

        st = self._load_state()
        if batch_id in st["batches"]:
            return  # replayed batch — already committed
        df = dedup_latest(batch_df)
        if self.lang is not None:
            df = df.filter(F.col("lang") == self.lang)
        df = df.withColumn("text", html_strip_udf(F.col("html"))).drop("html")
        df = self._fold_upsert(df, batch_id, st["batches"])
        docs = assign_doc_ids(df).withColumn(
            "doc_id", F.col("doc_id") + F.lit(int(st["next_doc_id"]))
        )
        # publish this batch's url → doc_id map (the upsert side input of
        # later batches); overwrite → idempotent on replay
        docs.select("url", "doc_id", "warc_ts", "_h").write.mode(
            "overwrite"
        ).parquet(os.path.join(self.root, "url_map", f"batch={int(batch_id)}"))
        base = corpus_base(docs.select("doc_id", "text")).cache()
        ds = base.select("doc_id", "dl")
        row = ds.agg(
            F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
        ).collect()[0]
        n_batch, dl_batch = int(row["n"]), int(row["s"])
        # batch-local avgdl for block maxima; compact() re-encodes globally
        avgdl = (st["sum_dl"] + dl_batch) / max(1, st["n_docs"] + n_batch)
        seg = encode_segment(
            exploded_tf(base),
            avgdl,
            self.n_buckets,
            self.docs_per_shard,
            seg_id=int(batch_id),
            block_size=self.block_size,
        )
        # one subdir per batch, mode=overwrite → a replay after a crash
        # between the data write and the state commit rewrites (not
        # duplicates) the segment: idempotent exactly-once delta commits
        seg.write.mode("overwrite").parquet(
            os.path.join(self.root, "postings_delta", f"batch={int(batch_id)}")
        )
        ds.write.mode("overwrite").parquet(
            os.path.join(self.root, "doc_stats_delta", f"batch={int(batch_id)}")
        )
        # per-batch term stats: postings carry only numeric tids, so the
        # string→tid dictionary is accumulated here and folded at compact()
        exploded_tf(base).groupBy("term").agg(
            F.count("*").alias("df"), F.sum("tf").alias("cf")
        ).write.mode("overwrite").parquet(
            os.path.join(self.root, "term_stats", f"batch={int(batch_id)}")
        )
        base.unpersist()
        st["next_doc_id"] += n_batch
        st["n_docs"] += n_batch
        st["sum_dl"] += dl_batch
        st["batches"].append(batch_id)
        self._save_state(st)

    def writer(self, refined: DataFrame):
        """Attach as: indexer.writer(stream).start()."""
        return (
            refined.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", os.path.join(self.root, "_stream_ckpt"))
            .trigger(availableNow=True)
        )

    # -- compaction ----------------------------------------------------------
    def compact(self, spark: SparkSession) -> str:
        """Merge all delta segments → queryable index at root/compacted,
        published by the same writer as build_index (index.publish_index).

        Docs superseded by a cross-batch re-crawl (see _fold_upsert) are
        expunged here — the Lucene merge-drops-deleted-docs analogue
        [public: Lucene NRT]: global stats (n_docs, avgdl) come from the
        LIVE doc set, and ONE segment merge (merge.merge_postings) takes the
        upsert tombstones as its dead set, routed per (bucket, shard)
        cogroup like every other expunge, so each posting is decoded and
        re-encoded once. df/cf are re-derived from the merged live postings
        (a plain sum of the per-batch term stats would still count
        superseded docs) — so the compacted index is value-identical to a
        batch build over the latest crawl of every url."""
        from .corpus import corpus_stats
        from .index import TOMBSTONE_SCHEMA, IndexManifest, publish_index
        from .merge import merge_postings

        st = self._load_state()
        tomb_paths = [
            os.path.join(self.root, "tombstones", f"batch={b}")
            for b in st["batches"]
        ]
        tomb_paths = [p for p in tomb_paths if os.path.isdir(p)]
        tomb = (
            spark.read.schema(TOMBSTONE_SCHEMA).parquet(*tomb_paths).distinct()
            if tomb_paths else None
        )
        ds = spark.read.parquet(os.path.join(self.root, "doc_stats_delta")).select(
            "doc_id", "dl"  # drop the batch partition-discovery col
        )
        if tomb is not None:
            ds = ds.join(tomb, "doc_id", "left_anti")
        n_docs, avgdl = corpus_stats(ds)
        merged = merge_postings(
            spark.read.parquet(os.path.join(self.root, "postings_delta")), avgdl,
            self.n_buckets, self.docs_per_shard, dead=tomb, block_size=self.block_size,
        )
        manifest = IndexManifest(
            root=os.path.join(self.root, "compacted"),
            n_docs=n_docs,
            avgdl=avgdl,
            n_buckets=self.n_buckets,
            docs_per_shard=self.docs_per_shard,
            n_segments=len(st["batches"]),
            block_size=self.block_size,
        )
        # term strings come from the accumulated per-batch term_stats
        terms = spark.read.parquet(os.path.join(self.root, "term_stats")).select("term")
        publish_index(manifest, merged, ds, terms=terms.distinct())
        return manifest.root
